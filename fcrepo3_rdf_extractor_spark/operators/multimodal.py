"""Multimodal column handling: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct. Container-level metadata (format, width, height) needs
NO codec: PNG/GIF/JPEG store dimensions in their first bytes, and
:func:`media_dimensions` header-parses them with pure JVM column ops —
the dominant metadata case runs codec-free and Python-free. Pixel-level
decode / feature-extraction / resize / frame-sampling run as
Arrow-batched ``mapInPandas`` stages. THREE pixel paths are real
end-to-end with no codec library: binary PPM (P6) raw RGB
(:func:`decode_ppm` / :func:`extract_ppm_features`, JVM-synthesized
payloads); COMPRESSED PNG — :func:`decode_png` CRC-verifies the
chunk stream, inflates IDAT with stdlib ``zlib``, and inverts all five
scanline filters (8/16-bit grey/RGB/palette/grey+alpha/RGBA,
sequential AND Adam7-interlaced — the full PNG baseline above
sub-byte depths; 16-bit reduces to the high byte); and COMPRESSED
GIF — :func:`decode_gif` runs a
full variable-width
LZW decompressor (growing dictionary, early-change width bumps, KwKwK),
de-interlaces, and applies the color table. :func:`encode_png` / :func:`encode_gif`
are the write sides, and the round-trip tests prove both decoders
from pixel arithmetic alone. JPEG/video
decode genuinely needs libraries (libjpeg/ffmpeg) this container
lacks, so that branch stays a clearly-marked stub: ``decode_stub='fake'`` derives
deterministic features from the bytes (so the plumbing — schema, batch
shape, partitioning — is real and tested), and ``decode_stub='raise'``
shows the production wiring (NotImplementedError at the codec call
site).

Scale notes: binary payloads dominate row size, so the operators select
the narrowest possible projection before the UDF and bound Arrow batch
bytes via maxRecordsPerBatch; feature extraction is embarrassingly
parallel (no shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter for this sandbox: treat document text bytes as an opaque
    payload so the binary plumbing has real data to move."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha256"),
    )


_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Deterministic stand-in for a codec: derives pseudo-dimensions and a
    16-dim byte-histogram feature from the payload bytes."""
    n = len(payload)
    width = 64 + (n % 1024)
    height = 64 + ((n // 7) % 1024)
    n_frames = 1 + (n % 16)
    hist = [0] * 16
    for b in payload:
        hist[b >> 4] += 1
    total = max(n, 1)
    return width, height, n_frames, [round(h / total, 6) for h in hist]


def extract_media_features(media: DataFrame, decode_stub: str = "fake") -> DataFrame:
    """Decode + feature-extract as an Arrow-batched mapInPandas stage.

    In production, replace the stub branch with the real codec call
    (PIL.Image.open / soundfile / pyav) — the Spark-side contract
    (schema in, schema out, batch iteration) is exactly this."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if decode_stub == "raise":
                    raise NotImplementedError(
                        "media codecs not available in this environment; "
                        "install Pillow/pyav and call the real decoder here"
                    )
                if payload is None:
                    # NULL payloads yield NULL features, not task failures
                    rows.append((media_id, None, None, None, None))
                    continue
                w, h, nf, feat = _fake_decode(bytes(payload))
                rows.append((media_id, w, h, nf, feat))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "n_frames", "feature"]
            )

    narrow = media.select("media_id", "payload")  # prune big cols early
    return narrow.mapInPandas(run, schema=_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 16, max_frames: int = 8) -> DataFrame:
    """'Frame sampling' on opaque payloads: take every ``every_n``-th byte
    as a frame token — the real implementation swaps the byte slice for a
    video-frame decode, the plan shape (explode -> rows) is identical.
    Pure column expressions: sequence + transform + explode, no Python."""
    frame_idx = F.sequence(
        F.lit(0),
        F.least(
            F.floor((F.col("n_bytes") - 1) / every_n).cast("int"),
            F.lit(max_frames - 1),
        ),
    )
    frames = F.transform(
        frame_idx,
        lambda i: F.struct(
            i.alias("frame_no"),
            F.md5(
                F.substring(F.col("payload"), (i * every_n + 1).cast("int"), every_n)
            ).alias("frame_fp"),
        ),
    )
    exploded = media.filter(F.col("n_bytes") > 0).select(
        "media_id", F.explode(frames).alias("f")
    )
    return exploded.select("media_id", "f.frame_no", "f.frame_fp")


def resize_metadata(features: DataFrame, target: int = 224) -> DataFrame:
    """Resize planning (aspect-preserving short-side scale): pure metadata
    arithmetic — the actual pixel work belongs in the decode UDF."""
    scale = target / F.least("width", "height")
    return features.select(
        "media_id", "width", "height",
        F.round(F.col("width") * scale).cast("int").alias("out_width"),
        F.round(F.col("height") * scale).cast("int").alias("out_height"),
    )


# --- codec-free header parsing ---------------------------------------------


def _be_int(payload, pos, n):
    """Big-endian unsigned int from ``n`` bytes at 1-based ``pos`` —
    hex + base-16 conv, pure codegen. Values above int32 max become
    NULL instead of casting: 4 bytes can encode up to 2^32-1, and a
    straight ``cast('int')`` on that string raises CAST_OVERFLOW under
    ANSI mode (Spark 4 default) — one hostile payload passing the magic
    check would fail the whole task. Out-of-range dimensions are invalid
    anyway (PNG width/height are spec-capped at 2^31-1), so NULL is the
    contract-correct result."""
    v = F.conv(F.hex(F.substring(payload, pos, n)), 16, 10).cast("bigint")
    return F.when(v <= 0x7FFFFFFF, v).cast("int")


def _le16_int(payload, pos):
    """Little-endian uint16 at 1-based ``pos`` (GIF stores dimensions
    LE): swap the two bytes' hex pairs, then conv."""
    return F.conv(
        F.concat(
            F.hex(F.substring(payload, pos + 1, 1)),
            F.hex(F.substring(payload, pos, 1)),
        ),
        16, 10,
    ).cast("int")


_PNG_MAGIC = "89504E470D0A1A0A"
_GIF_MAGICS = ("474946383761", "474946383961")  # GIF87a / GIF89a


def media_dimensions(
    media: DataFrame,
    payload_col: str = "payload",
    max_jpeg_segments: int = 12,
) -> DataFrame:
    """Image format + pixel dimensions from the payload's FILE HEADER —
    no codec, no Python, pure JVM byte ops:

    - PNG: width/height are the first 8 bytes of the IHDR chunk data,
      i.e. big-endian uint32 at byte offsets 16 and 20 (PNG spec §11.2.2
      — signature 8B, chunk length 4B, "IHDR" 4B, then the data).
    - GIF: the logical screen descriptor holds width/height as
      LITTLE-endian uint16 at offsets 6 and 8 (GIF89a spec §18).
    - JPEG: dimensions live in the SOFn segment (height BE uint16 at
      +5, width at +7 within the segment), whose position varies — the
      parser walks the segment chain (marker FFxx + BE uint16 length)
      from offset 2 for up to ``max_jpeg_segments`` hops. Baseline/
      progressive SOF0/1/2 all precede the entropy-coded SOS data, so a
      bounded walk over the metadata segments (APPn/EXIF/quant tables)
      always reaches it in well-formed files; pathological files yield
      NULL dims, never a task failure.

    The walk is a fixed unroll of staged (_pos, _jw, _jh) projection
    columns — each step's position is referenced several times by the
    next, and staging keeps the expression tree linear in
    ``max_jpeg_segments`` where inline nesting would be exponential
    (the CollapseProject discipline; Catalyst keeps multi-referenced
    non-cheap projections staged).

    Returns (media_id, format, width, height); unrecognized or
    truncated payloads get NULL format/dims. This is the codec-free
    path that handles metadata extraction at 100 TB — only pixel work
    needs :func:`extract_media_features`.
    """
    p = F.col(payload_col)
    df = media.select(
        "media_id",
        payload_col,
        F.lit(3).cast("int").alias("_pos"),
        F.lit(None).cast("int").alias("_jw"),
        F.lit(None).cast("int").alias("_jh"),
    )
    for _ in range(max_jpeg_segments):
        marker = F.hex(F.substring(p, F.col("_pos"), 2))
        seglen = _be_int(p, F.col("_pos") + 2, 2)
        is_sof = marker.isin("FFC0", "FFC1", "FFC2")
        found = F.col("_jw").isNotNull()
        advance = (
            ~found & ~is_sof & marker.startswith("FF") & seglen.isNotNull()
            & (seglen >= 2)
        )
        df = df.select(
            "media_id",
            payload_col,
            F.when(advance, F.col("_pos") + 2 + seglen)
            .otherwise(F.col("_pos")).alias("_pos"),
            F.when(~found & is_sof, _be_int(p, F.col("_pos") + 7, 2))
            .otherwise(F.col("_jw")).alias("_jw"),
            F.when(~found & is_sof, _be_int(p, F.col("_pos") + 5, 2))
            .otherwise(F.col("_jh")).alias("_jh"),
        )
    is_png = F.hex(F.substring(p, 1, 8)) == _PNG_MAGIC
    is_gif = F.hex(F.substring(p, 1, 6)).isin(*_GIF_MAGICS)
    is_jpeg = F.hex(F.substring(p, 1, 2)) == "FFD8"
    fmt = (
        F.when(is_png, F.lit("png"))
        .when(is_gif, F.lit("gif"))
        .when(is_jpeg, F.lit("jpeg"))
    )
    width = (
        F.when(is_png, _be_int(p, 17, 4))
        .when(is_gif, _le16_int(p, F.lit(7)))
        .when(is_jpeg, F.col("_jw"))
    )
    height = (
        F.when(is_png, _be_int(p, 21, 4))
        .when(is_gif, _le16_int(p, F.lit(9)))
        .when(is_jpeg, F.col("_jh"))
    )
    return df.select(
        "media_id",
        fmt.alias("format"),
        width.alias("width"),
        height.alias("height"),
    )


def documents_as_image_media(docs: DataFrame) -> DataFrame:
    """Adapter for this sandbox: synthesize VALID image-file headers —
    real PNG IHDR / GIF89a screen descriptor / baseline JPEG JFIF+SOF0
    byte layouts — deterministically from document properties
    (format = doc_id % 3; width = 1 + length(text) % 1000; height =
    1 + doc_id % 800), with the text bytes as the 'pixel data' tail.
    :func:`media_dimensions` then reads the dimensions back from the
    actual bytes, so the parser is exercised end-to-end without any
    image library. Pure column expressions (unhex/lpad/concat)."""
    n_chars = F.length("text")
    w = (F.lit(1) + F.pmod(n_chars, F.lit(1000))).cast("int")
    h = (F.lit(1) + F.pmod(F.col("doc_id"), F.lit(800))).cast("int")
    kind = F.pmod(F.col("doc_id"), F.lit(3))

    def be4(c):
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    def be2(c):
        return F.unhex(F.lpad(F.hex(c), 4, "0"))

    def le2(c):
        hx = F.lpad(F.hex(c), 4, "0")
        return F.unhex(F.concat(F.substring(hx, 3, 2), F.substring(hx, 1, 2)))

    png = F.concat(
        F.unhex(F.lit(_PNG_MAGIC)),        # signature
        F.unhex(F.lit("0000000D")),        # IHDR length = 13
        F.unhex(F.lit("49484452")),        # "IHDR"
        be4(w), be4(h),
        F.unhex(F.lit("0806000000")),      # depth/color/comp/filter/interlace
        F.unhex(F.lit("00000000")),        # CRC (unchecked by the parser)
    )
    gif = F.concat(
        F.unhex(F.lit("474946383961")),    # "GIF89a"
        le2(w), le2(h),
        F.unhex(F.lit("F70000")),          # packed/background/aspect
    )
    jpeg = F.concat(
        F.unhex(F.lit("FFD8")),                            # SOI
        F.unhex(F.lit("FFE00010")),                        # APP0, len 16
        F.unhex(F.lit("4A46494600010100000100010000")),    # JFIF\0 + version…
        F.unhex(F.lit("FFC0001108")),                      # SOF0, len 17, prec 8
        be2(h), be2(w),
        F.unhex(F.lit("03011100021101031101")),            # 3 components
    )
    header = F.when(kind == 0, png).when(kind == 1, gif).otherwise(jpeg)
    payload = F.concat(header, F.encode(F.col("text"), "UTF-8"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.when(kind == 0, F.lit("image/png"))
        .when(kind == 1, F.lit("image/gif"))
        .otherwise(F.lit("image/jpeg")).alias("mime"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha256"),
    )


# ---------------------------------------------------------------------------
# Real pixel decode for a codec-free format: Netpbm P6 (binary PPM).
# The pixel-level stub above exists because compressed codecs (JPEG/PNG
# pixel data) need libraries this container lacks — but PPM stores raw
# RGB bytes behind a text header, so the engine can carry one GENUINE
# end-to-end image path: parse header, slice pixels, reduce features,
# with the same mapInPandas plumbing production decoders plug into.


def decode_ppm(payload: bytes) -> tuple[int, int, int, bytes]:
    """Parse a binary PPM (P6): returns (width, height, maxval,
    pixel_bytes). Full header grammar: '#' comments anywhere between
    tokens, arbitrary whitespace runs, exactly ONE whitespace byte
    between maxval and the raster. Raises ValueError on malformed
    input (callers map that to NULL feature rows, E1-style)."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    width, height, maxval = tokens
    if maxval <= 0 or maxval > 255:
        raise ValueError(f"unsupported maxval {maxval}")
    if width <= 0 or height <= 0:
        # a zero-pixel "image" would mean a NaN channel mean downstream;
        # reject it so callers take the NULL-feature-row path instead
        raise ValueError(f"degenerate dimensions {width}x{height}")
    n = width * height * 3
    raster = payload[pos : pos + n]
    if len(raster) != n:
        raise ValueError("truncated PPM raster")
    return width, height, maxval, raster


_PPM_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def extract_ppm_features(media: DataFrame) -> DataFrame:
    """REAL image decode + feature reduction (per-channel means) for P6
    payloads — no stub, no codec library. Non-PPM or malformed payloads
    yield NULL feature rows (error isolation, not task failure). Same
    scale shape as the stubbed extractor: narrow projection before the
    Arrow-batched mapInPandas, embarrassingly parallel, no shuffle;
    means are exact (integer sums in float64), so the DuckDB oracle can
    restate them from the synthesis formula."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, _, raster = decode_ppm(bytes(payload))
                except (ValueError, TypeError):
                    rows.append((media_id, None, None, None, None, None))
                    continue
                px = np.frombuffer(raster, dtype=np.uint8).reshape(-1, 3)
                m = px.mean(axis=0)
                rows.append(
                    (media_id, w, h,
                     round(float(m[0]), 6), round(float(m[1]), 6),
                     round(float(m[2]), 6))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height",
                         "mean_r", "mean_g", "mean_b"],
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=_PPM_FEATURES_SCHEMA
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# colortype -> sample count (8-bit depth): grey, RGB, palette
# (1 index byte/pixel, mapped through PLTE on return), grey+alpha, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, height: int, rowbytes: int, bpp: int):
    """Invert the per-scanline PNG filters (RFC 2083 §6.1: None, Sub,
    Up, Average, Paeth). Returns an (height, rowbytes) uint8 array.
    Up is fully vectorized; Sub/Average/Paeth have a true sequential
    dependency along the scanline, so those rows pay a per-byte loop —
    the honest cost of the format, bounded by rowbytes."""
    import numpy as np

    if len(raw) != height * (1 + rowbytes):
        raise ValueError("PNG raster size mismatch")
    out = np.zeros((height, rowbytes), dtype=np.uint8)
    pos = 0
    for r in range(height):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw[pos : pos + rowbytes], dtype=np.uint8).astype(
            np.int32
        )
        pos += rowbytes
        prev = out[r - 1].astype(np.int32) if r else np.zeros(rowbytes, np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):
            cur = np.empty(rowbytes, np.int32)
            for i in range(rowbytes):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                if ftype == 1:  # Sub
                    pred = a
                elif ftype == 3:  # Average
                    pred = (a + b) >> 1
                else:  # Paeth
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[r] = cur.astype(np.uint8)
    return out


# Adam7 pass grid (PNG spec §8.2): x_start, y_start, x_step, y_step
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL compressed-image decode, stdlib-only: parse the chunk
    stream (CRC-verified), inflate the IDAT deflate stream with
    ``zlib``, and invert the five scanline filters. Returns (width,
    height, channels, pixel_bytes row-major). Supported: 8- and 16-bit
    depths, colortypes 0/2/3/4/6 (grey, RGB, palette via PLTE — mapped
    to RGB on return — grey+alpha, RGBA),
    sequential AND Adam7-interlaced — the full PNG baseline above
    sub-byte depths. 16-bit samples unfilter at their true bpp and
    reduce to the high byte on return (the standard 16->8 reduction
    for feature extraction). Sub-byte (1/2/4-bit) depths raise
    ValueError, as does any
    malformed chunk/CRC/raster (callers map that to NULL feature rows,
    E1-style). JPEG/video stay documented environment limits — their
    decode genuinely needs codec libraries this container lacks."""
    import zlib

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos, width, height, channels = 8, None, None, None
    idat, plte, palette_mode = b"", None, False
    while pos + 12 <= len(payload):
        length = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        crc = payload[pos + 8 + length : pos + 12 + length]
        if len(data) != length or len(crc) != 4:
            raise ValueError("truncated PNG chunk")
        if zlib.crc32(ctype + data) != int.from_bytes(crc, "big"):
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        pos += 12 + length
        if ctype == b"IHDR":
            if length != 13:
                raise ValueError("bad IHDR length")
            width = int.from_bytes(data[0:4], "big")
            height = int.from_bytes(data[4:8], "big")
            bitdepth, colortype = data[8], data[9]
            comp, filt, interlace = data[10], data[11], data[12]
            if bitdepth not in (8, 16):
                raise ValueError(f"unsupported bit depth {bitdepth}")
            if bitdepth == 16 and colortype == 3:
                raise ValueError("16-bit palette PNG is not in the spec")
            channels = _PNG_CHANNELS.get(colortype)
            if channels is None:
                raise ValueError(f"unsupported color type {colortype}")
            sample_bytes = bitdepth // 8
            if comp or filt:
                raise ValueError("bad compression/filter method")
            if interlace not in (0, 1):
                raise ValueError(f"unknown interlace method {interlace}")
            adam7 = bool(interlace)
            palette_mode = colortype == 3
        elif ctype == b"PLTE":
            if length == 0 or length % 3 or length > 256 * 3:
                raise ValueError(f"bad PLTE length {length}")
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None or channels is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate dimensions {width}x{height}")
    try:
        raw = zlib.decompress(idat)
    except zlib.error as exc:
        raise ValueError(f"bad IDAT deflate stream: {exc}") from exc
    import numpy as np

    def _apply_plte(pix: bytes) -> tuple[int, int, int, bytes]:
        if not palette_mode:
            return width, height, channels, pix
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        idx = np.frombuffer(pix, dtype=np.uint8)
        if int(idx.max(initial=0)) >= len(plte) // 3:
            raise ValueError("palette index out of range")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        return width, height, 3, pal[idx].tobytes()

    def _to8(arr, rows, px_per_row):
        """16-bit samples reduce to their high byte (big-endian first
        byte) — the standard 16->8 depth reduction; exact for the
        8-bit case (sample_bytes == 1)."""
        if sample_bytes == 1:
            return arr
        return arr.reshape(rows, px_per_row * channels, 2)[:, :, 0]

    if not adam7:
        px = _png_unfilter(
            raw, height, width * channels * sample_bytes,
            channels * sample_bytes,
        )
        return _apply_plte(_to8(px, height, width).tobytes())
    # Adam7 (PNG §8.2): seven sub-images, each filtered independently,
    # scattered onto the pass grid
    out = np.zeros((height, width, channels), dtype=np.uint8)
    pos = 0
    for x0, y0, xs, ys in _ADAM7:
        pw = (width - x0 + xs - 1) // xs
        ph = (height - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        nbytes = ph * (1 + pw * channels * sample_bytes)
        sub = _png_unfilter(
            raw[pos : pos + nbytes], ph, pw * channels * sample_bytes,
            channels * sample_bytes,
        )
        pos += nbytes
        out[y0::ys, x0::xs] = _to8(sub, ph, pw).reshape(ph, pw, channels)
    if pos != len(raw):
        raise ValueError("PNG raster size mismatch")
    return _apply_plte(out.tobytes())


def _png_filter_image(px, channels: int, filter_mode: str) -> bytearray:
    """Forward-filter one (sub)image — px is an int32 array of shape
    (rows, rowbytes). ``filter_mode='cycle'`` applies filter ``row % 5``
    so a decode exercises every unfilter branch. Encoding direction has
    no sequential dependency, so all five filters vectorize."""
    import numpy as np

    rows, rowbytes = px.shape
    raw = bytearray()
    for r in range(rows):
        ftype = r % 5 if filter_mode == "cycle" else 0
        cur = px[r]
        prev = px[r - 1] if r else np.zeros(rowbytes, np.int32)
        a = np.concatenate([np.zeros(channels, np.int32), cur[:-channels]])
        c = np.concatenate([np.zeros(channels, np.int32), prev[:-channels]])
        if ftype == 0:
            out = cur
        elif ftype == 1:
            out = cur - a
        elif ftype == 2:
            out = cur - prev
        elif ftype == 3:
            out = cur - ((a + prev) >> 1)
        else:
            p = a + prev - c
            pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - c)
            pred = np.where(
                (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, prev, c)
            )
            out = cur - pred
        raw.append(ftype)
        raw.extend((out & 0xFF).astype(np.uint8).tobytes())
    return raw


def encode_png(
    width: int, height: int, pixels: bytes, channels: int = 3,
    filter_mode: str = "cycle", interlace: bool = False,
) -> bytes:
    """Minimal PNG encoder (fixture synthesis + the write side of the
    round-trip proof). ``filter_mode='cycle'`` applies filter type
    ``row % 5`` per (sub)image so a decode of the result exercises
    every unfilter branch — if decode_png faked any filter, the pixel
    round-trip would not match.
    ``interlace=True`` writes the Adam7 pass sequence (each pass its
    own independently-filtered sub-image, PNG §8.2)."""
    import zlib

    import numpy as np

    if interlace:
        img = (
            np.frombuffer(pixels, dtype=np.uint8)
            .reshape(height, width, channels)
            .astype(np.int32)
        )
        raw = bytearray()
        for x0, y0, xs, ys in _ADAM7:
            sub = img[y0::ys, x0::xs]
            if sub.size == 0:
                continue
            raw += _png_filter_image(
                sub.reshape(sub.shape[0], -1), channels, filter_mode
            )
    else:
        px = (
            np.frombuffer(pixels, dtype=np.uint8)
            .reshape(height, width * channels)
            .astype(np.int32)
        )
        raw = _png_filter_image(px, channels, filter_mode)
    comp = zlib.compress(bytes(raw), 6)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + ctype
            + data
            + zlib.crc32(ctype + data).to_bytes(4, "big")
        )

    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, colortype, 0, 0, int(interlace)])
    )
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", comp)
        + chunk(b"IEND", b"")
    )


_PNG_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def _image_mean_features(media: DataFrame, decode) -> DataFrame:
    """Shared decode + per-channel mean reducer for the real codec
    paths (PNG, GIF): ``decode(payload) -> (w, h, channels, raster)``.
    Greyscale broadcasts its single channel to r=g=b; an alpha channel
    is excluded from the color means. Malformed payloads yield NULL
    feature rows (error isolation, not task failure). Scale shape:
    narrow projection before the Arrow-batched mapInPandas,
    embarrassingly parallel, no shuffle."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, ch, raster = decode(bytes(payload))
                except (ValueError, TypeError, IndexError):
                    rows.append((media_id, None, None, None, None, None))
                    continue
                px = np.frombuffer(raster, dtype=np.uint8).reshape(-1, ch)
                color = px[:, : ch - 1] if ch in (2, 4) else px
                m = color.mean(axis=0)
                if len(m) == 1:
                    r = g = b = float(m[0])
                else:
                    r, g, b = float(m[0]), float(m[1]), float(m[2])
                rows.append(
                    (media_id, w, h, round(r, 6), round(g, 6), round(b, 6))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height",
                         "mean_r", "mean_g", "mean_b"],
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=_PNG_FEATURES_SCHEMA
    )


def extract_png_features(media: DataFrame) -> DataFrame:
    """REAL compressed-image decode + per-channel mean reduction for
    PNG payloads — CRC check, inflate, unfilter, reduce; no codec
    library (shared reducer: _image_mean_features)."""
    return _image_mean_features(media, decode_png)


def _gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """GIF-variant LZW decompression (GIF89a spec appendix F): variable
    code width starting at min_code_size+1 bits, LSB-first bit packing,
    CLEAR resets the dictionary, codes cap at 12 bits. Pure Python —
    the dictionary is a list of byte strings, one append per emitted
    code."""
    clear = 1 << min_code_size
    eoi = clear + 1

    def fresh():
        return [bytes([i]) for i in range(clear)] + [b"", b""]

    table = fresh()
    width = min_code_size + 1
    out = bytearray()
    acc = nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = fresh()
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                if len(out) != n_pixels:
                    raise ValueError("GIF LZW ended short of the raster")
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("GIF LZW first code out of range")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("GIF LZW code out of range")
            out.extend(entry)
            prev = entry
            # the decoder's table is ONE entry behind the encoder's (the
            # first code after CLEAR adds nothing), so the width bump
            # lands at 2^width - 1 — the GIF "early change" convention
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
            if len(out) > n_pixels:
                raise ValueError("GIF LZW overran the raster")
    raise ValueError("GIF LZW stream missing end-of-information")


def _gif_interlace_order(height: int) -> list[int]:
    """Display-row order of the stored scanlines of an interlaced GIF
    (GIF89a appendix E's four passes)."""
    return [
        r
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
        for r in range(start, height, step)
    ]


def decode_gif(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL LZW decode for GIF87a/89a, pure Python: parse the logical
    screen + color table, skip extensions, decompress the FIRST image's
    index stream, de-interlace if flagged, and apply the palette.
    Returns (width, height, 3, rgb_bytes) for the first frame (its own
    descriptor dimensions). Missing color tables raise ValueError
    (callers map to NULL feature rows). Animated GIFs decode frame 1 —
    count frames with media_dimensions if needed."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(payload) < 13:
        raise ValueError("truncated GIF screen descriptor")
    packed = payload[10]
    pos = 13
    global_table = b""
    if packed & 0x80:
        n = 2 ** ((packed & 0x07) + 1) * 3
        global_table = payload[pos : pos + n]
        if len(global_table) != n:
            raise ValueError("truncated global color table")
        pos += n
    while pos < len(payload):
        introducer = payload[pos]
        pos += 1
        if introducer == 0x3B:  # trailer
            break
        if introducer == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if introducer != 0x2C:
            raise ValueError(f"unknown GIF block 0x{introducer:02x}")
        if pos + 9 > len(payload):
            raise ValueError("truncated image descriptor")
        w = int.from_bytes(payload[pos + 4 : pos + 6], "little")
        h = int.from_bytes(payload[pos + 6 : pos + 8], "little")
        ipacked = payload[pos + 8]
        pos += 9
        interlaced = bool(ipacked & 0x40)
        table = global_table
        if ipacked & 0x80:
            n = 2 ** ((ipacked & 0x07) + 1) * 3
            table = payload[pos : pos + n]
            if len(table) != n:
                raise ValueError("truncated local color table")
            pos += n
        if not table:
            raise ValueError("GIF image has no color table")
        if w <= 0 or h <= 0:
            raise ValueError(f"degenerate dimensions {w}x{h}")
        min_code_size = payload[pos]
        pos += 1
        if not (2 <= min_code_size <= 8):
            raise ValueError(f"bad LZW minimum code size {min_code_size}")
        data = bytearray()
        while pos < len(payload) and payload[pos] != 0:
            n = payload[pos]
            block = payload[pos + 1 : pos + 1 + n]
            if len(block) != n:
                raise ValueError("truncated GIF data sub-block")
            data.extend(block)
            pos += 1 + n
        import numpy as np

        indices = _gif_lzw_decode(bytes(data), min_code_size, w * h)
        n_colors = len(table) // 3
        idx = np.frombuffer(indices, dtype=np.uint8)
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("palette index out of range")
        if interlaced:
            # GIF89a appendix E: rows are stored in four passes (every
            # 8th from 0, every 8th from 4, every 4th from 2, every 2nd
            # from 1) — stored scanline s is display row
            # _gif_interlace_order(h)[s]
            rows = idx.reshape(h, w)
            out_rows = np.empty_like(rows)
            out_rows[_gif_interlace_order(h)] = rows
            idx = out_rows.reshape(-1)
        pal = np.frombuffer(table, dtype=np.uint8).reshape(-1, 3)
        return w, h, 3, pal[idx].tobytes()
    raise ValueError("GIF contains no image block")


def encode_gif(
    width: int, height: int, indices: bytes, palette: bytes,
    interlace: bool = False,
) -> bytes:
    """Minimal GIF89a encoder (fixture synthesis + the write side of
    the round-trip proof): 256-entry palette, LZW with a CLEAR before
    every run of 253 literal codes — the classic fixed-9-bit
     'uncompressed GIF' encoding, decodable by ANY conforming LZW
    decoder including real viewers. The decoder under test implements
    FULL growing-dictionary LZW; a unit test also feeds it a
    dictionary-growing stream to prove the general path."""
    assert len(palette) == 256 * 3 and len(indices) == width * height
    if interlace:
        import numpy as np

        rows = np.frombuffer(indices, dtype=np.uint8).reshape(height, width)
        indices = rows[_gif_interlace_order(height)].tobytes()
    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out += bytes([0x80 | 0x07, 0, 0])  # global table, 256 entries
    out += palette
    out += b"\x2c" + bytes(4) + width.to_bytes(2, "little")
    out += height.to_bytes(2, "little")
    out.append(0x40 if interlace else 0x00)
    out.append(8)  # LZW minimum code size
    clear, eoi, cwidth = 256, 257, 9
    codes: list[int] = []
    for i, idx in enumerate(indices):
        if i % 253 == 0:
            # reset before a conforming decoder's simulated table (one
            # entry per literal after the first) reaches 511 = the
            # early-change width bump — 253 literals max per run
            codes.append(clear)
        codes.append(idx)
    codes.append(eoi)
    acc = nbits = 0
    packed = bytearray()
    for code in codes:
        acc |= code << nbits
        nbits += cwidth
        while nbits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        packed.append(acc & 0xFF)
    for off in range(0, len(packed), 255):
        block = packed[off : off + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def extract_gif_features(media: DataFrame) -> DataFrame:
    """REAL LZW decode + per-channel mean reduction for GIF payloads
    (shared reducer: _image_mean_features)."""
    return _image_mean_features(media, decode_gif)
