"""Multimodal column conventions + processing plumbing.

Convention: media travels as an opaque ``binary`` column (``content``)
next to a typed metadata struct (``media_meta``: mime, width, height,
duration_ms, n_frames). Decode / feature-extract / resize / frame-
sample run as Arrow-batched ``mapInPandas`` stages — the Spark-side
plumbing (schema, batching, partition parallelism) is real and
tested. The codec layer is REAL for the formats a pure-Python parser
can own — WAV PCM (stdlib ``wave``), binary PPM, PNG (stdlib ``zlib``
+ scanline unfiltering, operators/png.py), baseline JPEG (numpy
Huffman/DCT/4:2:0, operators/jpeg.py), and GIF incl. animation (pure
LZW, operators/gif.py — the one natively multi-frame visual format,
so frame_sample gets REAL frame fan-out) — and stubbed only for video +
compressed audio (MP3/H.264; no image/audio libraries in this
container; a deployment wires PIL/torchaudio/decord into the same
decode_media interface).

At 100 TB the shape matters more than the codec: binary payloads
dominate partition size, so ``spark.sql.files.maxPartitionBytes`` and
explicit ``repartition`` before a decode stage keep Arrow batches
bounded; the metadata struct lets filters (mime, dimensions) prune
before any bytes are decoded.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def attach_media(
    df: DataFrame,
    payload_col: str,
    mime: str = "application/octet-stream",
    mime_col: str | None = None,
) -> DataFrame:
    """Wrap an existing column as (content binary, media_meta struct).
    ``mime_col`` takes per-row mime types from a column (mixed-media
    tables); ``mime`` is the constant fallback."""
    mime_expr = F.col(mime_col) if mime_col else F.lit(mime)
    return df.withColumn("content", F.col(payload_col).cast("binary")).withColumn(
        "media_meta",
        F.struct(
            mime_expr.alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit(None).cast("int").alias("n_frames"),
        ),
    )


WAV_MIMES = {"audio/wav", "audio/x-wav", "audio/wave"}
PPM_MIMES = {"image/x-portable-pixmap", "image/ppm"}
PNG_MIMES = {"image/png"}
JPEG_MIMES = {"image/jpeg", "image/jpg"}
GIF_MIMES = {"image/gif"}


def decode_wav(payload: bytes) -> tuple[list[float], int]:
    """Pure-stdlib WAV decode (PCM 8/16-bit, any channel count):
    returns (mono float samples in [-1, 1], frame rate). Channels are
    mixed by plain averaging."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        nch, sw, fr, nf = (
            w.getnchannels(),
            w.getsampwidth(),
            w.getframerate(),
            w.getnframes(),
        )
        raw = w.readframes(nf)
    if sw == 2:
        vals = struct.unpack(f"<{len(raw) // 2}h", raw)
        samples = [v / 32768.0 for v in vals]
    elif sw == 1:  # 8-bit WAV is unsigned
        samples = [(b - 128) / 128.0 for b in raw]
    else:
        raise NotImplementedError(f"{8 * sw}-bit PCM not supported")
    if nch > 1:
        samples = [
            sum(samples[i : i + nch]) / nch
            for i in range(0, len(samples) - nch + 1, nch)
        ]
    return samples, fr


def _ppm_tokens(payload: bytes, n: int) -> tuple[list[int], int]:
    """First n whitespace-separated header tokens (comments skipped),
    plus the offset of the byte after the single whitespace that
    terminates the last token — where the raster begins."""
    toks: list[int | str] = []
    i = 0
    while len(toks) < n:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        toks.append(payload[i:j])
        i = j
    return toks, i + 1  # skip exactly ONE whitespace after maxval


def decode_ppm(payload: bytes) -> tuple[list[float], int, int]:
    """Pure-Python binary PPM (P6) decode: returns (flat [r,g,b,...]
    normalized to [0, 1], width, height)."""
    toks, off = _ppm_tokens(payload, 4)
    if toks[0] != b"P6":
        raise NotImplementedError(f"not a P6 PPM: {toks[0]!r}")
    width, height, maxval = int(toks[1]), int(toks[2]), int(toks[3])
    if maxval > 255:
        # 16-bit P6: two-byte big-endian samples (PPM spec) — r11
        need = width * height * 3 * 2
        raster = payload[off : off + need]
        if len(raster) < need:
            raise ValueError("truncated PPM raster")
        return (
            [
                ((raster[i] << 8) | raster[i + 1]) / maxval
                for i in range(0, need, 2)
            ],
            width,
            height,
        )
    need = width * height * 3
    raster = payload[off : off + need]
    if len(raster) < need:
        raise ValueError("truncated PPM raster")
    return [b / maxval for b in raster], width, height


def decode_media(payload: bytes, mime: str) -> list[float]:
    """Decode bytes + mime into a flat float signal. REAL for the
    formats a pure-Python parser can own — WAV PCM (stdlib ``wave``),
    binary PPM, PNG (stdlib ``zlib`` + scanline unfiltering,
    operators/png.py; the FULL legal profile matrix since r11 —
    1/2/4/8/16-bit, all five color types, Adam7), baseline AND
    progressive JPEG (numpy Huffman/DCT, operators/jpeg.py), and
    GIF (pure LZW, operators/gif.py; animated payloads expose every
    frame via frame_sample) — JPEG covers baseline, progressive AND
    12-bit precision, so the NotImplementedError boundary is now
    only video + compressed audio (MP3/H.264 ...) and
    arithmetic-coded JPEG, where a deployment wires
    PIL/torchaudio/decord into this same interface."""
    if mime in WAV_MIMES:
        return decode_wav(payload)[0]
    if mime in PPM_MIMES:
        return decode_ppm(payload)[0]
    if mime in PNG_MIMES:
        from nfl_data_pipeline_spark.operators.png import decode_png

        return decode_png(payload)[0]
    if mime in JPEG_MIMES:
        from nfl_data_pipeline_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)[0]
    if mime in GIF_MIMES:
        from nfl_data_pipeline_spark.operators.gif import decode_gif

        return decode_gif(payload)[0]
    raise NotImplementedError(
        f"no pure-python codec for {mime}; deployments wire "
        "PIL/torchaudio/decord here (contract: bytes + mime in, "
        "float signal out)"
    )


def signal_feature(sig: list[float], dims: int = 4) -> list[float]:
    """Fixed-width summary of a decoded signal: [n, mean, rms, max_abs]
    — deterministic, codec-independent, FEATURE_SCHEMA-compatible."""
    import math

    if not sig:
        return [0.0] * dims
    n = float(len(sig))
    mean = sum(sig) / n
    rms = math.sqrt(sum(x * x for x in sig) / n)
    return [n, mean, rms, max(abs(x) for x in sig)]


def fake_feature(payload: bytes, dims: int = 4) -> list[float]:
    """Deterministic stand-in for a decoded feature vector: byte-sum
    statistics per stride. Keeps every test reproducible without
    codecs."""
    if not payload:
        return [0.0] * dims
    return [
        float(sum(payload[i::dims]) % 997) for i in range(dims)
    ]


def extract_features(df: DataFrame, use_real_codec: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, content,
    media_meta) via mapInPandas — the real plumbing: iterator of
    pandas batches in, bounded memory, partition-parallel."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            payloads = pdf["content"]
            mimes = pdf["media_meta"].apply(lambda m: m["mime"])
            if use_real_codec:
                feats = [
                    signal_feature(decode_media(bytes(p), m))
                    for p, m in zip(payloads, mimes)
                ]
            else:
                feats = [fake_feature(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": mimes,
                    "n_bytes": payloads.apply(len).astype("int64"),
                    "content_hash": payloads.apply(
                        lambda p: hashlib.md5(bytes(p)).hexdigest()
                    ),
                    "feature": feats,
                }
            )

    return df.select("doc_id", "content", "media_meta").mapInPandas(
        _extract, FEATURE_SCHEMA
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_ix", T.IntegerType()),
        T.StructField("frame_ms", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def decode_frames_wav(payload: bytes, every_ms: int) -> list[tuple[int, bytes]]:
    """Real WAV frame sampling: one PCM byte window per every_ms of
    ACTUAL audio (duration from the container, not the metadata
    struct), sliced with wave.readframes so each window is valid PCM."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        fr, nf = w.getframerate(), w.getnframes()
        per_win = max(1, fr * every_ms // 1000)
        out = []
        i = 0
        while i * per_win < nf:
            out.append((i * every_ms, w.readframes(per_win)))
            i += 1
    return out


def frame_sample(
    df: DataFrame, every_ms: int = 1000, use_real_codec: bool = False
) -> DataFrame:
    """Frame sampling: one input media row → N frame rows (the
    UDTF-shaped mapInPandas stage — output cardinality differs from
    input, which a pandas_udf can't express).

    Stub path (default): frame count comes from the metadata struct
    (duration_ms / every_ms, min 1) — the fan-out is known per-row
    WITHOUT decoding — and deterministic byte slices stand in for
    decoded frames.

    Real path (``use_real_codec=True``): WAV rows are windowed into
    valid PCM chunks per every_ms of actual audio; PPM rows emit their
    raster as a single frame; compressed codecs raise through
    decode_media's NotImplementedError boundary (decord/ffmpeg wire in
    there in a deployment).
    """

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_ix": [], "frame_ms": [], "frame_bytes": []}

            def emit(doc_id, ix, ms, fb):
                rows["doc_id"].append(doc_id)
                rows["frame_ix"].append(ix)
                rows["frame_ms"].append(ms)
                rows["frame_bytes"].append(fb)

            for _, r in pdf.iterrows():
                payload = bytes(r["content"])
                meta = r["media_meta"]
                mime = meta["mime"]
                if use_real_codec and mime in WAV_MIMES:
                    for ix, (ms, fb) in enumerate(
                        decode_frames_wav(payload, every_ms)
                    ):
                        emit(r["doc_id"], ix, ms, fb)
                    continue
                if use_real_codec and mime in PPM_MIMES:
                    _, off = _ppm_tokens(payload, 4)
                    emit(r["doc_id"], 0, 0, payload[off:])
                    continue
                if use_real_codec and mime in PNG_MIMES:
                    from nfl_data_pipeline_spark.operators.png import (
                        decode_png_raster,
                    )

                    emit(r["doc_id"], 0, 0, decode_png_raster(payload)[0])
                    continue
                if use_real_codec and mime in JPEG_MIMES:
                    from nfl_data_pipeline_spark.operators.jpeg import (
                        decode_jpeg_raster,
                    )

                    emit(r["doc_id"], 0, 0, decode_jpeg_raster(payload)[0])
                    continue
                if use_real_codec and mime in GIF_MIMES:
                    # the one natively multi-frame visual format:
                    # every animation frame becomes a row, timestamped
                    # by the cumulative per-frame delays
                    from nfl_data_pipeline_spark.operators.gif import (
                        decode_gif_frames,
                    )

                    t = 0
                    for ix, (delay, raster) in enumerate(
                        decode_gif_frames(payload)[0]
                    ):
                        emit(r["doc_id"], ix, t, raster)
                        t += delay
                    continue
                if use_real_codec:
                    decode_media(payload, mime)  # raises: compressed codec
                dur = meta["duration_ms"] or every_ms
                n = max(1, int(dur) // every_ms)
                step = max(1, len(payload) // n) if payload else 1
                for i in range(n):
                    emit(
                        r["doc_id"], i, i * every_ms,
                        payload[i * step : (i + 1) * step],
                    )
            yield pd.DataFrame(rows)

    return df.select("doc_id", "content", "media_meta").mapInPandas(
        _sample, FRAME_SCHEMA
    )


def resize_ppm(payload: bytes, width: int, height: int) -> bytes:
    """REAL payload resize for binary PPM: decode P6, nearest-neighbor
    sample to (width, height), re-encode P6 — pure numpy, no imaging
    library. The same codec boundary as decode_media: compressed
    formats raise there before reaching this."""
    import numpy as np

    toks, off = _ppm_tokens(payload, 4)
    if toks[0] != b"P6":
        raise NotImplementedError(f"not a P6 PPM: {toks[0]!r}")
    w0, h0, maxval = int(toks[1]), int(toks[2]), int(toks[3])
    # 16-bit P6 carries two-byte big-endian samples; >u2 round-trips
    # the byte order through tobytes(), so resize preserves depth
    dt = np.dtype(">u2") if maxval > 255 else np.dtype(np.uint8)
    need = w0 * h0 * 3
    raster = np.frombuffer(
        payload[off : off + need * dt.itemsize], dtype=dt
    )
    if raster.size < need:
        raise ValueError("truncated PPM raster")
    img = raster.reshape(h0, w0, 3)
    ys = (np.arange(height) * h0) // height
    xs = (np.arange(width) * w0) // width
    out = img[ys][:, xs]  # nearest-neighbor gather
    header = f"P6\n{width} {height}\n{maxval}\n".encode()
    return header + out.tobytes()


def resize_png(payload: bytes, width: int, height: int) -> bytes:
    """REAL payload resize for PNG: decode (operators/png.py),
    nearest-neighbor sample to (width, height), re-encode preserving
    the channel count. Same codec boundary as decode_media."""
    import numpy as np

    from nfl_data_pipeline_spark.operators.png import (
        decode_png_raster,
        encode_png,
    )

    raster, w0, h0, ch = decode_png_raster(payload)
    img = np.frombuffer(raster, dtype=np.uint8).reshape(h0, w0, ch)
    ys = (np.arange(height) * h0) // height
    xs = (np.arange(width) * w0) // width
    out = img[ys][:, xs]
    return encode_png(out.tobytes(), width, height, channels=ch)


def resize_jpeg(payload: bytes, width: int, height: int) -> bytes:
    """REAL payload resize for baseline JPEG: decode
    (operators/jpeg.py), nearest-neighbor sample, re-encode (4:4:4,
    quality 90 — a resize re-encode is inherently lossy; the metadata
    rewrite stays the source of truth for dimensions)."""
    import numpy as np

    from nfl_data_pipeline_spark.operators.jpeg import (
        decode_jpeg_raster,
        encode_jpeg,
    )

    raster, w0, h0, ch = decode_jpeg_raster(payload)
    img = np.frombuffer(raster, dtype=np.uint8).reshape(h0, w0, ch)
    ys = (np.arange(height) * h0) // height
    xs = (np.arange(width) * w0) // width
    out = img[ys][:, xs]
    return encode_jpeg(
        out.tobytes(), width, height, channels=ch, quality=90
    )


def resize_gif(payload: bytes, width: int, height: int) -> bytes:
    """REAL payload resize for GIF — every animation frame is
    nearest-neighbor resampled and the delays carry over, so an
    animated input stays animated."""
    import numpy as np

    from nfl_data_pipeline_spark.operators.gif import (
        decode_gif_frames,
        encode_gif,
    )

    frames, w0, h0 = decode_gif_frames(payload)
    ys = (np.arange(height) * h0) // height
    xs = (np.arange(width) * w0) // width
    outs, delays = [], []
    for delay, raster in frames:
        img = np.frombuffer(raster, dtype=np.uint8).reshape(h0, w0, 3)
        outs.append(img[ys][:, xs].tobytes())
        delays.append(delay)
    return encode_gif(outs, width, height, delays)


def resize_media(
    df: DataFrame, width: int, height: int, use_real_codec: bool = False
) -> DataFrame:
    """Payload + metadata resize over a media table. The metadata
    rewrite is always the JVM-side expression (resize_meta); the
    payload pass runs per Arrow batch in mapInPandas and applies the
    real PPM resample where the codec owns the format
    (``use_real_codec``), passing other payloads through unchanged —
    the deployment seam where PIL/ffmpeg plug in."""
    import pandas as pd

    meta_done = resize_meta(df, width, height)
    if not use_real_codec:
        return meta_done
    cols = meta_done.columns

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            new_payloads = []
            for payload, meta in zip(out["content"], out["media_meta"]):
                mime = meta["mime"] if isinstance(meta, dict) else meta.mime
                if mime in PPM_MIMES:
                    new_payloads.append(
                        resize_ppm(bytes(payload), width, height)
                    )
                elif mime in PNG_MIMES:
                    new_payloads.append(
                        resize_png(bytes(payload), width, height)
                    )
                elif mime in JPEG_MIMES:
                    new_payloads.append(
                        resize_jpeg(bytes(payload), width, height)
                    )
                elif mime in GIF_MIMES:
                    new_payloads.append(
                        resize_gif(bytes(payload), width, height)
                    )
                else:
                    new_payloads.append(payload)
            out["content"] = new_payloads
            yield out

    return meta_done.mapInPandas(_resize, meta_done.schema).select(*cols)


def image_rgb(payload: bytes, mime: str):
    """Decode an image payload to an (h, w, 3) float64 array in
    [0, 1] — the shared decode front of pHash/resize. REAL for PPM
    (P6) and PNG (operators/png.py: gray/palette/alpha profiles
    normalize to RGB — gray replicates, alpha drops); other mimes
    raise at the same boundary as decode_media."""
    import numpy as np

    if mime in PPM_MIMES:
        toks, off = _ppm_tokens(payload, 4)
        if toks[0] != b"P6":
            raise NotImplementedError(f"not a P6 PPM: {toks[0]!r}")
        w, h, maxval = int(toks[1]), int(toks[2]), int(toks[3])
        dt = np.dtype(">u2") if maxval > 255 else np.dtype(np.uint8)
        need = w * h * 3
        raster = np.frombuffer(
            payload[off : off + need * dt.itemsize], dtype=dt
        )
        if raster.size < need:
            raise ValueError("truncated PPM raster")
        return raster.reshape(h, w, 3).astype(np.float64) / maxval
    if mime in PNG_MIMES:
        from nfl_data_pipeline_spark.operators.png import decode_png_raster

        raster_b, w, h, ch = decode_png_raster(payload)
        arr = (
            np.frombuffer(raster_b, dtype=np.uint8)
            .reshape(h, w, ch)
            .astype(np.float64)
            / 255.0
        )
        if ch == 1:
            return np.repeat(arr, 3, axis=2)
        if ch == 2:  # gray + alpha: replicate luma, drop alpha
            return np.repeat(arr[:, :, :1], 3, axis=2)
        if ch == 4:
            return arr[:, :, :3]
        return arr
    if mime in JPEG_MIMES:
        from nfl_data_pipeline_spark.operators.jpeg import (
            decode_jpeg_raster,
        )

        raster_b, w, h, ch = decode_jpeg_raster(payload)
        arr = (
            np.frombuffer(raster_b, dtype=np.uint8)
            .reshape(h, w, ch)
            .astype(np.float64)
            / 255.0
        )
        return np.repeat(arr, 3, axis=2) if ch == 1 else arr
    if mime in GIF_MIMES:
        from nfl_data_pipeline_spark.operators.gif import decode_gif_frames

        frames, w, h = decode_gif_frames(payload)
        return (
            np.frombuffer(frames[0][1], dtype=np.uint8)
            .reshape(h, w, 3)
            .astype(np.float64)
            / 255.0
        )
    raise NotImplementedError(
        f"no pure-python image codec for {mime}; deployments wire PIL "
        "in front (contract: bytes + mime in, (h, w, 3) floats out)"
    )


IMAGE_MIMES = PPM_MIMES | PNG_MIMES | JPEG_MIMES | GIF_MIMES


def phash_image(
    payload: bytes, mime: str, hash_size: int = 8, img_size: int = 32
) -> int:
    """64-bit perceptual hash (pHash) of an image payload — the
    image-dedup fingerprint: decode (``image_rgb`` — PPM and PNG
    native) → luma grayscale → area-mean resize to ``img_size``² →
    2D DCT-II → sign-vs-median of the low-frequency ``hash_size``²
    block (DC excluded from the median so uniform brightness shifts
    don't flip half the bits). Pure numpy; the same codec boundary as
    decode_media (JPEG deployments wire PIL in front). Returns a
    SIGNED int64 (bit 63 may set the sign) so the value drops
    straight into a Spark LongType column and ``hamming_near_pairs``."""
    import numpy as np

    rgb = image_rgb(payload, mime)
    h, w = rgb.shape[:2]
    gray = rgb @ np.array([0.299, 0.587, 0.114])
    # area-mean resize: average each source cell [ys[i], ys[i+1]) ×
    # [xs[j], xs[j+1]) — robust to pixel noise where nearest-neighbor
    # sampling is not. Vectorized via an integral image (2D prefix
    # sums → each cell sum is 4 corner lookups): ~1 ms at VGA where
    # the per-cell slice loop took ~80 ms.
    ys = (np.arange(img_size + 1) * h) // img_size
    xs = (np.arange(img_size + 1) * w) // img_size
    integral = np.zeros((h + 1, w + 1))
    integral[1:, 1:] = gray.cumsum(axis=0).cumsum(axis=1)
    r0, r1 = ys[:-1], np.maximum(ys[1:], ys[:-1] + 1)
    c0, c1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1)
    sums = (
        integral[r1][:, c1]
        - integral[r0][:, c1]
        - integral[r1][:, c0]
        + integral[r0][:, c0]
    )
    small = sums / ((r1 - r0)[:, None] * (c1 - c0)[None, :])
    n = img_size
    k = np.arange(n)[:, None]
    basis = np.cos(np.pi * (2 * np.arange(n)[None, :] + 1) * k / (2 * n))
    dct = basis @ small @ basis.T
    low = dct[:hash_size, :hash_size]
    med = np.median(low.flatten()[1:])  # exclude DC
    bits = (low.flatten() > med).astype(np.uint64)
    val = np.uint64(0)
    for i, b in enumerate(bits):
        val |= np.uint64(b) << np.uint64(i)
    return int(val.astype(np.int64))


def phash_ppm(payload: bytes, hash_size: int = 8, img_size: int = 32) -> int:
    """PPM-payload pHash — ``phash_image`` with the PPM mime (kept as
    the named entry point the media-dedup registry stamps as
    'phash_ppm/64')."""
    return phash_image(
        payload, "image/x-portable-pixmap", hash_size, img_size
    )


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def image_phash(df: DataFrame) -> DataFrame:
    """Arrow-batched pHash over (doc_id, content, media_meta) — the
    metadata mime filter prunes to the natively decodable image
    formats (PPM + PNG) BEFORE bytes move, the multimodal contract;
    other mimes raise at the decode_media boundary."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [
                        phash_image(bytes(p), m)
                        for p, m in zip(pdf["content"], pdf["mime"])
                    ],
                }
            )

    img_only = df.filter(
        F.col("media_meta.mime").isin(*sorted(IMAGE_MIMES))
    )
    # only (doc_id, content, mime) cross the Arrow boundary — the
    # metadata struct did its pruning job in the prefilter above and
    # mime rides along only to pick the codec
    return img_only.select(
        "doc_id", "content", F.col("media_meta.mime").alias("mime")
    ).mapInPandas(_hash, PHASH_SCHEMA)


def image_near_dups(
    df: DataFrame,
    max_hamming: int = 10,
    max_bucket: int | None = None,
) -> DataFrame:
    """Perceptual image dedup: pHash fingerprints + the generic banded
    Hamming self-join (operators/dedup.hamming_near_pairs) — visually
    near-identical images (recompressed / lightly edited copies) meet
    in band buckets, never an all-pairs comparison."""
    from nfl_data_pipeline_spark.operators.dedup import hamming_near_pairs

    return hamming_near_pairs(
        image_phash(df),
        id_col="doc_id",
        fp_col="phash",
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def afp_hashes(
    payload: bytes,
    frame: int = 512,
    hop: int = 256,
    peaks_per_frame: int = 3,
    fan_out: int = 3,
    zone: int = 6,
) -> list[tuple[int, int]]:
    """Constellation audio fingerprint (the landmark/anchor-pair
    scheme of Wang 2003) of a WAV payload — the audio-dedup
    fingerprint: Hann-windowed STFT → top-``peaks_per_frame``
    spectral peaks per frame → each anchor peak paired with the next
    ``fan_out`` peaks within ``zone`` following frames. Each pair
    packs to an int ``(f1 << 20) | (f2 << 8) | dt`` emitted with its
    anchor frame index ``t``, so a match is a SHARED HASH AT A
    CONSISTENT TIME OFFSET — robust to gain change (peak *locations*
    don't move), additive noise (peaks dominate), and hop-aligned
    time shifts (offsets stay constant). Same pure-stdlib/numpy codec
    boundary as decode_media."""
    import numpy as np

    if frame // 2 > 0xFFF:
        raise ValueError(
            f"frame={frame} yields rfft bins past the 12-bit f2 field "
            "of the packed hash (max frame 8190)"
        )
    if zone > 0xFF:
        raise ValueError(
            f"zone={zone} overflows the 8-bit dt field (max 255)"
        )
    samples, _rate = decode_wav(payload)
    x = np.asarray(samples, dtype=np.float64)
    if len(x) < frame:
        x = np.pad(x, (0, frame - len(x)))
    n_frames = 1 + (len(x) - frame) // hop
    idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
    spec = np.abs(np.fft.rfft(np.hanning(frame) * x[idx], axis=1))
    # top peaks per frame (DC excluded); argsort for a deterministic
    # magnitude-then-bin order
    mag = spec[:, 1:]
    order = np.argsort(-mag, kind="stable", axis=1)[:, :peaks_per_frame] + 1
    hashes: list[tuple[int, int]] = []
    for t in range(n_frames):
        for f1 in order[t]:
            emitted = 0
            for dt in range(1, zone + 1):
                if t + dt >= n_frames or emitted >= fan_out:
                    break
                for f2 in order[t + dt]:
                    hashes.append(
                        ((int(f1) << 20) | (int(f2) << 8) | dt, t)
                    )
                    emitted += 1
                    if emitted >= fan_out:
                        break
    return hashes


AFP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("h", T.LongType()),
        T.StructField("t", T.IntegerType()),
    ]
)


def audio_fingerprints(df: DataFrame) -> DataFrame:
    """Arrow-batched constellation hashes over (doc_id, content,
    media_meta) WAV rows — one (doc_id, h, t) row per landmark pair;
    the mime filter prunes before bytes are decoded."""

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs, ts = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["content"]):
                for h, t in afp_hashes(bytes(payload)):
                    ids.append(doc_id)
                    hs.append(h)
                    ts.append(t)
            yield pd.DataFrame({"doc_id": ids, "h": hs, "t": ts})

    wav_only = df.filter(F.col("media_meta.mime").isin(*sorted(WAV_MIMES)))
    # only (doc_id, content) cross the Arrow boundary — the metadata
    # struct's job ends at the mime prefilter
    return wav_only.select("doc_id", "content").mapInPandas(
        _fp, AFP_SCHEMA
    )


# The audio verify-threshold sizing rule (SCALING.md "Round 8: media
# fixture content-richness"): coincidental cross-clip distinct votes
# SCALE with landmark density — measured ~12-20 at ~136 landmarks per
# clip (rich note sequences) vs ≤2 at ~10/clip (stationary tones) —
# while a true copy shares ~all of the overlap span's landmarks. A
# fixed threshold tuned on sparse content chain-merges rich content
# (min_matches=8 kept 1/0/0/0 on the rich fixture; 25 kept ~87/batch
# at recall 1.0). max(FLOOR, ceil(DENSITY × median landmarks/clip))
# reproduces both measured safe points: 8 at density ~10, ~27 ≈ the
# measured 25 at density ~136.
MIN_MATCHES_FLOOR = 8
MIN_MATCHES_DENSITY = 0.2


def capped_fingerprints(fp: DataFrame, max_df_hash: int | None) -> DataFrame:
    """Batch-side document-frequency cap + eager pin: hashes shared
    by more than ``max_df_hash`` clips (silence/tone boilerplate)
    drop from candidate generation, then localCheckpoint so every
    consumer — density scan, offset votes, registration — sees the
    SAME fingerprints (and the Arrow decode runs once, not once per
    self-join side). ONE implementation shared by ``audio_near_dups``
    and the streaming gate so the two contracts stay identical by
    construction (review finding: the block had been copied)."""
    if max_df_hash is not None:
        ok = (
            fp.groupBy("h")
            .agg(F.countDistinct("doc_id").alias("_df"))
            .filter(F.col("_df") <= max_df_hash)
            .select("h")
        )
        fp = fp.join(ok, "h")
    return fp.localCheckpoint(eager=True)


def auto_min_matches(fp: DataFrame) -> int:
    """Derive the offset-vote verify threshold from the corpus's own
    landmark density (the crosswalk above). EXACT median (percentile,
    not percentile_approx) so the same fingerprint frame always
    yields the same threshold — gate replays re-derive it
    deterministically. One #clips-row aggregate, a single driver
    scalar."""
    import math as _math

    row = (
        fp.groupBy("doc_id")
        .agg(F.countDistinct("h").alias("_n"))
        .agg(F.expr("percentile(_n, 0.5)").alias("med"))
        .collect()[0]
    )
    med = row["med"]
    if med is None:
        return MIN_MATCHES_FLOOR
    return max(MIN_MATCHES_FLOOR, int(_math.ceil(MIN_MATCHES_DENSITY * med)))


def audio_near_dups(
    df: DataFrame,
    min_matches: int | None = None,
    max_df_hash: int | None = None,
) -> DataFrame:
    """Audio near-dup pairs: clips sharing ≥ ``min_matches``
    DISTINCT landmark hashes at ONE consistent time offset — returns
    ``(id_a, id_b, offset, n_matches)`` for the best offset per pair.
    The default ``min_matches=None`` derives the threshold from the
    corpus's landmark density (``auto_min_matches`` — the r8 measured
    crosswalk; a fixed 8 was tuned on the degenerate sparse fixture
    and chain-merges rich content); pass an int to pin it.
    The self-join is bucketed by hash value (posting-list shape, the
    same scale pattern as jaccard_pairs), never all-pairs; the
    offset-consistency vote then kills coincidental collisions.

    The vote counts DISTINCT hash values per offset, not raw
    co-occurrences: stationary content (held tones, silence) repeats
    each landmark hash at every anchor frame, so a single shared
    value would otherwise yield n_frames offset-consistent raw votes
    and chain-merge unrelated clips (measured: SCALING.md §"media
    gates at 2,000 images / 400 clips"). A true copy shares MANY
    distinct landmarks at its offset; a coincidental collision shares
    one or two. ``max_df_hash`` additionally drops hashes shared by more
    than that many clips (boilerplate) from candidate generation —
    the hot-shingle cap contract."""
    fp = capped_fingerprints(audio_fingerprints(df), max_df_hash)
    if min_matches is None:
        min_matches = auto_min_matches(fp)
    a = fp.select(
        F.col("doc_id").alias("id_a"), "h", F.col("t").alias("ta")
    )
    b = fp.select(
        F.col("doc_id").alias("id_b"), "h", F.col("t").alias("tb")
    )
    votes = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy(
            "id_a", "id_b", (F.col("ta") - F.col("tb")).alias("offset")
        )
        .agg(F.countDistinct("h").alias("n_matches"))
    )
    best = Window.partitionBy("id_a", "id_b").orderBy(
        # ties across offsets happen on stationary spectra — prefer
        # the physically sensible smallest |offset| alignment
        F.desc("n_matches"), F.asc(F.abs("offset")), F.asc("offset")
    )
    return (
        votes.withColumn("_rk", F.row_number().over(best))
        .filter((F.col("_rk") == 1) & (F.col("n_matches") >= min_matches))
        .select("id_a", "id_b", "offset", "n_matches")
    )


def resize_meta(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing: rewrite the metadata struct (the part the
    engine owns — pure JVM expression, no UDF) while the payload
    transform stays in the codec layer. Filters on the NEW dimensions
    prune before any decode stage runs."""
    return df.withColumn(
        "media_meta",
        F.struct(
            F.col("media_meta.mime").alias("mime"),
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.col("media_meta.duration_ms").alias("duration_ms"),
            F.col("media_meta.n_frames").alias("n_frames"),
        ),
    )
