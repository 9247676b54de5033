"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque `binary` columns with typed metadata structs;
all per-item compute is Arrow-batched (`mapInPandas`), partitioned by
doc so media for one document co-locate. The decode kernel is
pluggable via `decoder=`: `real_decoder` uses PIL when installed and
otherwise a dependency-free builtin image decode (every legal PNG
depth/color/interlace combination + binary PPM/PGM, stdlib zlib
only), plus a stdlib-`wave` PCM WAV audio decode, so real image and
audio bytes decode even in codec-less containers; video and compressed audio
still require ffmpeg/torchaudio and raise with guidance.
`fake_decoder` (deterministic, hash-seeded) remains for hermetic
plumbing tests.

Operators:
- media_table_schema / attach_media : typed media rows from documents
- decode_media                      : binary → (width, height, channels,
                                      pixels summary) via pluggable decoder
- extract_features                  : decoded media → fixed-size float
                                      feature vector (mean/std/moments)
- sample_frames                     : video-kind rows → one row per
                                      sampled frame index (uniform step)
- resize_media                      : decoded pixels → fixed target
                                      (H, W) by nearest-neighbor — pure
                                      numpy indexing, so unlike the
                                      decode hook this one is REAL, not
                                      a stub
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),  # opaque payload
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("duration_ms", T.LongType()),  # audio/video
                ]
            ),
        ),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)

Decoder = Callable[[bytes, str], np.ndarray]


# Adam7 interlace passes: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(
    raw: bytes, offset: int, height: int, stride: int, bpp: int
) -> tuple[np.ndarray, int]:
    """Reverse the five PNG scanline filters over `height` rows of
    `stride` bytes starting at `offset` in the decompressed stream
    (filters act on bytes with a left-offset of `bpp`, the pixel's
    byte width). Returns (rows array (height, stride), bytes
    consumed) — the consumed count lets Adam7 walk its seven
    concatenated sub-images."""
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        base = offset + y * (stride + 1)
        if base + 1 + stride > len(raw):
            raise ValueError("PNG data truncated")
        ft = raw[base]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=base + 1
        ).copy()
        if ft == 0:
            pass
        elif ft == 2:  # Up
            line += prev
        elif ft == 1:  # Sub: per-lane running sum mod 256, vectorized
            lanes = line.reshape(-1, bpp).astype(np.int64)
            line = (
                (np.cumsum(lanes, axis=0) & 0xFF)
                .astype(np.uint8)
                .reshape(-1)
            )
        elif ft in (3, 4):  # Average / Paeth need a left-scan
            rec = line.astype(np.int32)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = int(prev[x])
                if ft == 3:
                    rec[x] = (rec[x] + (a + b) // 2) & 0xFF
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[x] = (rec[x] + pred) & 0xFF
            line = rec.astype(np.uint8)
        else:
            raise ValueError(f"bad PNG filter {ft}")
        out[y] = line
        prev = out[y]
    return out, height * (stride + 1)


def _png_pass_pixels(
    raw: bytes, offset: int, ph: int, pw: int, nch: int, depth: int
) -> tuple[np.ndarray, int]:
    """Decode one (sub-)image block of `ph` rows × `pw` pixels at the
    given depth into a uint8 pixel array (ph, pw, nch), returning
    (pixels, bytes consumed). Scanline byte width is ceil(pw·nch·
    depth/8) — sub-8-bit rows pack pixels MSB-first and pad the last
    byte; 16-bit rows carry big-endian pairs reduced to their high
    byte (the decoder's uint8 output contract). Sub-8-bit values are
    raw code points here — grayscale expansion / palette lookup
    happens on the assembled image."""
    stride = -(-(pw * nch * depth) // 8)
    bpp = max(1, nch * depth // 8)
    rows, used = _png_unfilter(raw, offset, ph, stride, bpp)
    if depth == 16:
        px = rows.reshape(ph, pw, nch, 2)[:, :, :, 0].copy()
    elif depth == 8:
        px = rows.reshape(ph, pw, nch)
    else:  # 1/2/4-bit: nch == 1 by spec (gray or palette indices)
        bits = np.unpackbits(rows, axis=1)[:, : pw * depth]
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        px = (
            (bits.reshape(ph, pw, depth) * weights).sum(axis=2)
            .astype(np.uint8)[:, :, None]
        )
    return px, used


def _decode_png(content: bytes) -> np.ndarray:
    """PNG decode with only stdlib zlib, covering EVERY legal
    depth/color combination: 1/2/4/8/16-bit grayscale, 8/16-bit
    RGB / gray+alpha / RGBA, 1/2/4/8-bit palette (PLTE, with optional
    tRNS alpha), plain or Adam7-interlaced, all five scanline
    filters. Palette images expand to RGB (RGBA when a tRNS chunk is
    present) — the same expansion PIL's convert() applies, so the two
    paths agree. 16-bit samples are reduced to their HIGH byte
    (val >> 8) and sub-8-bit grayscale expands to the full 0-255
    range (val · 255/(2^depth−1), exact integers): the decoder's
    output contract is uint8 pixels everywhere, matching the
    normalization the PIL branch applies."""
    import struct
    import zlib

    if content[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, width = 8, None
    idat = b""
    plte = trns = None
    while pos < len(content):
        (ln,) = struct.unpack(">I", content[pos : pos + 4])
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + ln]
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            legal = {
                0: (1, 2, 4, 8, 16),
                2: (8, 16),
                3: (1, 2, 4, 8),
                4: (8, 16),
                6: (8, 16),
            }
            if (
                color not in legal
                or depth not in legal[color]
                or interlace not in (0, 1)
            ):
                raise ValueError(
                    f"illegal PNG depth/color/interlace combination: "
                    f"depth={depth} color={color} interlace={interlace}"
                )
            # palette scanlines carry index codes; the palette lookup
            # after assembly expands to RGB(A)
            nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
        elif ctype == b"PLTE":
            if ln % 3 != 0:
                raise ValueError(f"PLTE length {ln} not divisible by 3")
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(data, np.uint8)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if width is None:
        raise ValueError("PNG missing IHDR")
    if color == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    raw = zlib.decompress(idat)
    if interlace == 0:
        pixels, _ = _png_pass_pixels(raw, 0, height, width, nch, depth)
    else:
        # Adam7: seven independently-filtered sub-images decoded to
        # PIXELS (each pass has its own packed scanline width), then
        # scattered onto the full grid; empty passes contribute no
        # bytes
        pixels = np.empty((height, width, nch), dtype=np.uint8)
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = max(0, -(-(width - x0) // dx))
            ph = max(0, -(-(height - y0) // dy))
            if pw == 0 or ph == 0:
                continue
            sub, used = _png_pass_pixels(raw, offset, ph, pw, nch, depth)
            offset += used
            ys = np.arange(y0, height, dy)
            xs = np.arange(x0, width, dx)
            pixels[np.ix_(ys, xs)] = sub
    if color == 0 and depth < 8:
        # sub-8-bit grayscale expands to full range (exact integer
        # factors: ×255 / ×85 / ×17 for 1/2/4-bit)
        pixels = pixels * np.uint8(255 // ((1 << depth) - 1))
    if color != 3:
        return pixels
    # palette expansion: indices → RGB rows of PLTE; tRNS (when
    # present) supplies per-index alpha, defaulting to 255 for
    # indices past its (legally shorter) length
    idx = pixels[:, :, 0]
    if idx.max(initial=0) >= len(plte):
        raise ValueError(
            f"palette index {int(idx.max())} out of range "
            f"(palette has {len(plte)} entries)"
        )
    rgb = plte[idx]
    if trns is None:
        return rgb
    alpha = np.full(len(plte), 255, dtype=np.uint8)
    alpha[: min(len(trns), len(plte))] = trns[: len(plte)]
    return np.concatenate([rgb, alpha[idx][:, :, None]], axis=2)


def _decode_ppm(content: bytes) -> np.ndarray:
    """Binary PPM (P6) / PGM (P5), 8-bit. The spec mandates a single
    whitespace after maxval; CRLF-written headers (Windows writers)
    are tolerated by skipping the \\r\\n pair — otherwise the \\n
    would silently become the first pixel byte."""
    fields: list[bytes] = []
    pos = 0
    while len(fields) < 4 and pos < len(content):
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(content[start:pos])
    if len(fields) < 4 or b"" in fields:
        raise ValueError("truncated netpbm header")
    magic, w, h, maxv = fields[0], int(fields[1]), int(fields[2]), int(fields[3])
    if magic not in (b"P5", b"P6") or maxv != 255:
        raise NotImplementedError(f"unsupported netpbm {magic!r}/{maxv}")
    nch = 3 if magic == b"P6" else 1
    data_at = pos + (2 if content[pos : pos + 2] == b"\r\n" else 1)
    n = w * h * nch
    if len(content) - data_at < n:
        raise ValueError(
            f"netpbm payload truncated: need {n} bytes, have "
            f"{len(content) - data_at}"
        )
    pix = np.frombuffer(content, np.uint8, count=n, offset=data_at)
    return pix.reshape(h, w, nch).copy()


def _decode_wav(content: bytes) -> np.ndarray:
    """PCM WAV decode with only stdlib `wave`: 8-bit unsigned,
    16/24/32-bit signed little-endian, any channel count. Returns
    shape (1, n_frames, n_channels) — the audio row fits the decoder
    contract with height=1, width=sample count, channels=channel
    count — with the RAW stored sample values (uint8 for 8-bit,
    int16/int32 otherwise; 24-bit sign-extends into int32; no
    recentering or normalization, so a written file round-trips
    bit-for-bit). Compressed WAV (µ-law, ADPCM) raises
    NotImplementedError — that genuinely needs ffmpeg/soundfile."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(content), "rb") as w:
            nch = w.getnchannels()
            sw = w.getsampwidth()
            n = w.getnframes()
            raw = w.readframes(n)
    except wave.Error as ex:
        raise NotImplementedError(
            f"builtin WAV decode handles uncompressed PCM only "
            f"({ex}); install ffmpeg/soundfile and pass a decoder "
            f"wrapping it for compressed audio"
        ) from ex
    except EOFError as ex:
        # chunk.py raises a bare EOFError on payloads cut mid-chunk —
        # surface it as the module's corrupt-input contract, not an
        # opaque empty-message executor failure
        raise ValueError("WAV payload truncated mid-chunk") from ex
    frames = len(raw) // (sw * nch)
    if sw == 3:
        # 24-bit: pad each little-endian triple into the HIGH bytes of
        # an int32, then arithmetic-shift back — sign-correct without
        # a per-sample loop
        b = np.frombuffer(
            raw, np.uint8, count=frames * nch * 3
        ).reshape(-1, 3)
        padded = np.zeros((len(b), 4), np.uint8)
        padded[:, 1:] = b
        arr = padded.view("<i4").ravel() >> 8
        return arr.reshape(1, frames, nch)
    dtype = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}.get(sw)
    if dtype is None:
        raise NotImplementedError(
            f"builtin WAV decode supports 8/16/24/32-bit PCM, got "
            f"{sw * 8}-bit"
        )
    arr = np.frombuffer(raw, dtype=dtype, count=frames * nch)
    return arr.reshape(1, frames, nch)


# probed ONCE at import: a failed `from PIL import ...` is NOT cached
# by Python, so retrying per decoded row would pay a full sys.path
# scan per item (~50us each — real money inside mapInPandas)
try:
    from PIL import Image as _PIL_IMAGE  # noqa: N812
except Exception:  # noqa: BLE001 — probe semantics: "is PIL usable?"
    # broken installs raise non-ImportError (OSError against a bad
    # libjpeg, numpy ABI RuntimeError); confine the blast radius to
    # the PIL path instead of failing the whole module import
    _PIL_IMAGE = None


def real_decoder(content: bytes, kind: str) -> np.ndarray:
    """Production decode hook. Images: PIL when installed (full format
    coverage), else the dependency-free builtin decoders (every legal
    PNG depth/color/interlace combination, binary PPM/PGM). Audio: builtin PCM WAV via
    stdlib `wave` (shape (1, n_frames, n_channels), raw sample
    values). Only video and compressed audio genuinely need external
    codecs (ffmpeg/torchaudio) — those raise with guidance."""
    if kind == "audio":
        if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
            return _decode_wav(content)
        raise NotImplementedError(
            "no codec for this audio payload: not a RIFF/WAVE container "
            "(the builtin PCM WAV format); install ffmpeg/soundfile and "
            "pass a decoder wrapping it"
        )
    if kind not in ("image", "table"):
        raise NotImplementedError(
            f"decoding kind={kind!r} needs ffmpeg/torchaudio; install one "
            "and pass a decoder wrapping it, or use fake_decoder for "
            "plumbing tests"
        )
    if _PIL_IMAGE is not None:
        import io  # noqa: PLC0415

        img = _PIL_IMAGE.open(io.BytesIO(content))
        # normalize mode BEFORE asarray: palette images would yield
        # palette INDICES, 16-bit images int32 values 0-65535 — both
        # silently wrong for downstream uint8 feature math. Mode
        # mapping mirrors the builtin decoder's shape contract so the
        # PIL-present and PIL-absent environments produce identical
        # (channels, dtype): 1-bit → 1-channel gray (0/255), LA →
        # 2-channel gray+alpha, 16-bit ints → high-byte gray (32-bit
        # 'I' values outside 0-65535 saturate instead of wrapping)
        if img.mode == "1":
            img = img.convert("L")
        elif img.mode in ("I;16", "I;16L", "I;16B", "I"):
            arr16 = np.asarray(img.convert("I"), dtype=np.int64)
            return np.clip(arr16 >> 8, 0, 255).astype(np.uint8)[:, :, None]
        elif img.mode not in ("L", "LA", "RGB", "RGBA"):
            has_alpha = "A" in img.mode or "transparency" in img.info
            img = img.convert("RGBA" if has_alpha else "RGB")
        arr = np.asarray(img)
        return arr[:, :, None] if arr.ndim == 2 else arr
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(content)
    if content[:2] in (b"P5", b"P6"):
        return _decode_ppm(content)
    raise NotImplementedError(
        "no codec for this payload: PIL is not installed and the content "
        "is not PNG/PPM (the builtin formats); install pillow or pass a "
        "custom decoder"
    )


def fake_decoder(content: bytes, kind: str) -> np.ndarray:
    """Deterministic stand-in decode: payload hash seeds a small
    pseudo-image (H, W, C) uint8 array. Keeps every downstream shape/
    dtype contract identical to a real decoder."""
    seed = int.from_bytes(hashlib.sha256(content).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    h, w = 16 + seed % 17, 16 + (seed >> 8) % 17
    c = 3 if kind == "image" else 1
    return rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)


def attach_media(documents: DataFrame, payload_bytes: int = 64) -> DataFrame:
    """Materialize a typed media table from documents' media spans.
    (In production media bytes come from object storage via a
    binaryFile-style source; here the payload is a deterministic
    function of the media_ref so tests are hermetic.)"""
    spans = documents.select(
        "doc_id", F.explode("spans").alias("s")
    ).filter(F.col("s.kind").isin("image", "table", "video", "audio"))
    return spans.select(
        "doc_id",
        F.col("s.media_ref").alias("media_ref"),
        F.when(F.col("s.kind") == "table", "image")
        .otherwise(F.col("s.kind"))
        .alias("kind"),
        F.encode(
            F.repeat(F.sha2(F.col("s.media_ref"), 256), max(payload_bytes // 64, 1)),
            "utf-8",
        ).alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(payload_bytes).cast("long").alias("n_bytes"),
            F.lit(0).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def decode_media(media: DataFrame, decoder: Decoder = real_decoder) -> DataFrame:
    """binary → decoded summary row per media item. Arrow batches;
    repartitioned by doc_id so one doc's media decode together."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decoder(bytes(r.content), r.kind)
                rows.append(
                    (
                        r.doc_id,
                        r.media_ref,
                        r.kind,
                        int(arr.shape[1]),
                        int(arr.shape[0]),
                        int(arr.shape[2]) if arr.ndim == 3 else 1,
                        float(arr.mean()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "media_ref",
                    "kind",
                    "width",
                    "height",
                    "channels",
                    "mean_intensity",
                ],
            )

    return (
        media.repartition("doc_id")
        .select("doc_id", "media_ref", "kind", "content")
        .mapInPandas(run, DECODED_SCHEMA)
    )


def extract_features(
    media: DataFrame, decoder: Decoder = real_decoder, dim: int = 8
) -> DataFrame:
    """Decoded media → fixed-size feature vector (intensity moments +
    shape stats). The production swap-in is a vision model over the
    same mapInPandas contract."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decoder(bytes(r.content), r.kind).astype(np.float64)
                flat = arr.reshape(-1)
                feats = [
                    flat.mean(),
                    flat.std(),
                    float(np.median(flat)),
                    flat.min(),
                    flat.max(),
                    float(arr.shape[0]),
                    float(arr.shape[1]),
                    float(arr.shape[2]) if arr.ndim == 3 else 1.0,
                ][:dim]
                rows.append((r.doc_id, r.media_ref, feats))
            yield pd.DataFrame(rows, columns=["doc_id", "media_ref", "features"])

    return (
        media.repartition("doc_id")
        .select("doc_id", "media_ref", "kind", "content")
        .mapInPandas(run, FEATURES_SCHEMA)
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("content", T.BinaryType()),  # raw H*W*C uint8
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def resize_media(
    media: DataFrame,
    target: tuple[int, int] = (32, 32),
    decoder: Decoder = real_decoder,
) -> DataFrame:
    """Resize every media item's decoded pixels to a fixed (H, W) by
    nearest-neighbor: output pixel (i, j) samples input pixel
    (floor((i+0.5)·H/th), floor((j+0.5)·W/tw)) — the standard
    center-aligned NN grid. Pure numpy fancy-indexing, no codec
    libraries, so this operator is fully real even in this container
    (only the byte→pixels decode in front of it is pluggable).

    Emits the resized pixels as a raw uint8 binary column plus the
    new shape and mean intensity — the uniform-shape contract a
    downstream vision model batch expects. Arrow-batched, partitioned
    by doc_id like the other media kernels."""
    th, tw = target
    if th <= 0 or tw <= 0:
        raise ValueError(f"target must be positive, got {target}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decoder(bytes(r.content), r.kind)
                if arr.ndim == 2:
                    arr = arr[:, :, None]
                h, w = arr.shape[:2]
                ri = np.minimum(
                    ((np.arange(th) + 0.5) * h / th).astype(np.int64), h - 1
                )
                ci = np.minimum(
                    ((np.arange(tw) + 0.5) * w / tw).astype(np.int64), w - 1
                )
                out = np.ascontiguousarray(arr[ri][:, ci])
                rows.append(
                    (
                        r.doc_id,
                        r.media_ref,
                        r.kind,
                        tw,
                        th,
                        int(out.shape[2]),
                        out.tobytes(),
                        float(out.mean()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "media_ref",
                    "kind",
                    "width",
                    "height",
                    "channels",
                    "content",
                    "mean_intensity",
                ],
            )

    return (
        media.repartition("doc_id")
        .select("doc_id", "media_ref", "kind", "content")
        .mapInPandas(run, RESIZED_SCHEMA)
    )


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video rows → one row per sampled frame timestamp (uniform grid
    over meta.duration_ms). Pure JVM (sequence + explode); the decode
    of each frame then flows through decode_media."""
    vids = media.filter(F.col("kind") == "video")
    return vids.select(
        "doc_id",
        "media_ref",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.greatest(F.col("meta.duration_ms") - 1, F.lit(0).cast("long")),
                F.lit(every_ms).cast("long"),
            )
        ).alias("frame_ts_ms"),
    )


def caption_pairs(documents: DataFrame) -> DataFrame:
    """Interleaved-span alignment: pair every media span with the
    nearest PRECEDING text span of the same document — the caption
    heuristic a text+media KG pipeline uses to ground media in text
    (e.g. emitting (media_ref, captioned_by, mention) triples).

    Input is the interleaved documents table
    (doc_id, spans: array<struct<kind, text, media_ref, offset>>);
    spans are consumed read-only via posexplode, so the per-row
    span-sequence invariant (BASELINE.json input_hint) holds by
    construction. Returns one row per media span:
    (doc_id, media_idx, media_ref, kind, caption_idx, caption_text)
    with caption_idx = -1 / caption_text = '' when no text span
    precedes the media span.

    Plan: posexplode → per-doc running `last(text, ignorenulls)`
    window ordered by span position → filter to media rows. The only
    shuffle is the doc_id window partitioning, which the pipeline's
    bucket-by-doc_id table layout (sources/sinks.py) already provides
    on a real cluster; per-doc span counts are small and bounded, so
    the window state never spills.
    """
    spans = documents.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("span_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_text = F.col("kind") == "text"
    with_cap = spans.select(
        "doc_id",
        "span_idx",
        "kind",
        "media_ref",
        F.last(F.when(is_text, F.col("span_idx")), ignorenulls=True)
        .over(w)
        .alias("cap_idx"),
        F.last(F.when(is_text, F.col("text")), ignorenulls=True)
        .over(w)
        .alias("cap_text"),
    )
    return with_cap.filter(F.col("kind") != "text").select(
        "doc_id",
        F.col("span_idx").alias("media_idx"),
        "media_ref",
        "kind",
        F.coalesce(F.col("cap_idx"), F.lit(-1)).alias("caption_idx"),
        F.coalesce(F.col("cap_text"), F.lit("")).alias("caption_text"),
    )


def media_triples(documents: DataFrame, alias_dict) -> DataFrame:
    """Media-grounding triples for the KG from interleaved documents —
    the media-side analog of the typing triples the main pipeline
    emits (plans/kg.py stage_triples):

      (<doc_id>,     has_media, <media_ref>)   for every media span
      (<media_ref>,  depicts,   <term_id>)     for every alias-dict
          mention in the span's caption (nearest preceding text span,
          caption_pairs above)

    `alias_dict` is the same (alias_norm, term_id) dictionary the
    mention stage broadcasts, a Spark or driver-held pandas DataFrame
    (detect_mentions takes either); caption mention detection reuses
    detect_mentions verbatim by wrapping each caption as a one-span
    pseudo-document keyed by its media_ref, so gating/tokenization
    semantics cannot drift from the text path. Costs one extra pass
    over the (small) caption table on top of caption_pairs' window;
    the document table itself is read once.
    """
    from cello_spark.operators.mentions import detect_mentions

    pairs = caption_pairs(documents)
    # subj is the BARE doc_id — the same node key the main pipeline's
    # typing triples use (linking.typing_triples), so a document's
    # rdf:type and has_media triples join on one node
    has_media = pairs.select(
        F.col("doc_id").cast("string").alias("subj"),
        F.lit("has_media").alias("pred"),
        F.col("media_ref").alias("obj"),
    )
    captions = pairs.filter(F.col("caption_idx") >= 0).select(
        F.col("media_ref").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("caption_text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    depicts = detect_mentions(captions, alias_dict).select(
        F.col("doc_id").alias("subj"),
        F.lit("depicts").alias("pred"),
        F.col("term_id").cast("string").alias("obj"),
    )
    return has_media.unionByName(depicts).dropDuplicates()
