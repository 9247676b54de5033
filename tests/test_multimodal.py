"""Multimodal plumbing: schema, batching, decode, features, frame
sampling. Image decode is REAL (builtin PNG/PPM decoders; PIL when
installed) and verified against spec-conformant fixtures crafted
here; the deterministic fake remains for hermetic plumbing tests."""

import pytest
from pyspark.sql import functions as F

from cello_spark.operators import multimodal as M


def _chunk(ctype, data):
    """Shared PNG chunk writer for every fixture encoder in this file
    (length + type + payload + CRC per the PNG spec)."""
    import struct
    import zlib

    c = ctype + data
    return struct.pack(">I", len(data)) + c + struct.pack(
        ">I", zlib.crc32(c)
    )


@pytest.fixture(scope="module")
def media(spark, small_world):
    docs = spark.createDataFrame(small_world["documents"])
    return M.attach_media(docs).cache()


def test_attach_media_schema_and_counts(spark, small_world, media):
    assert [f.name for f in media.schema.fields] == [
        "doc_id",
        "media_ref",
        "kind",
        "content",
        "meta",
    ]
    docs = spark.createDataFrame(small_world["documents"])
    n_media_spans = (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") != "text")
        .count()
    )
    assert media.count() == n_media_spans
    assert media.filter(F.col("content").isNull()).count() == 0


def test_real_decoder_unknown_payload_and_av_kinds_gated():
    with pytest.raises(NotImplementedError):
        M.real_decoder(b"xx", "image")  # not PNG/PPM, no PIL formats
    with pytest.raises(NotImplementedError):
        M.real_decoder(b"xx", "video")  # needs ffmpeg


def test_real_decoder_pil_mode_i_saturates(monkeypatch):
    """A 32-bit PIL 'I' image keeps the high byte of a 16-bit value;
    a value above 65535 saturates at 255 instead of wrapping."""
    import numpy as np

    class _Image:
        mode = "I"
        info: dict = {}

        def convert(self, mode):
            assert mode == "I"
            return np.array([[70000, 300]], dtype=np.int32)

    class _PIL:
        @staticmethod
        def open(fp):
            return _Image()

    monkeypatch.setattr(M, "_PIL_IMAGE", _PIL)
    out = M.real_decoder(b"any", "image")
    assert out.dtype == np.uint8 and out.shape == (1, 2, 1)
    assert out[:, :, 0].tolist() == [[255, 1]]


def _png_bytes(pixels, filters=None):
    """Standard-conformant PNG encoder (stdlib only) used as the
    decoder's test fixture; per-row filter types are applied exactly
    per the PNG spec so every filter branch can be exercised."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, nch = px.shape
    color = {1: 0, 3: 2, 4: 6}[nch]
    filters = filters or [0] * h

    chunk = _chunk

    raw = b""
    flat = px.reshape(h, w * nch).astype(np.int32)
    prev = np.zeros(w * nch, dtype=np.int32)
    for y, ft in zip(range(h), filters):
        line = flat[y]
        if ft == 0:
            enc = line
        elif ft == 1:
            left = np.concatenate([np.zeros(nch, np.int32), line[:-nch]])
            enc = (line - left) & 0xFF
        elif ft == 2:
            enc = (line - prev) & 0xFF
        elif ft == 3:
            left = np.concatenate([np.zeros(nch, np.int32), line[:-nch]])
            enc = (line - (left + prev) // 2) & 0xFF
        else:  # Paeth
            enc = np.empty_like(line)
            for x in range(w * nch):
                a = int(line[x - nch]) if x >= nch else 0
                b = int(prev[x])
                c = int(prev[x - nch]) if x >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (line[x] - pred) & 0xFF
        raw += bytes([ft]) + enc.astype(np.uint8).tobytes()
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_real_decoder_png_all_filters_roundtrip():
    import numpy as np

    rng = np.random.default_rng(7)
    for nch in (1, 3, 4):
        px = rng.integers(0, 256, size=(6, 5, nch), dtype=np.uint8)
        content = _png_bytes(px, filters=[0, 1, 2, 3, 4, 2])
        got = M.real_decoder(content, "image")
        assert got.shape == (6, 5, nch)
        assert np.array_equal(got, px), f"nch={nch}"


def test_real_decoder_ppm_roundtrip():
    import numpy as np

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    content = b"P6\n# comment\n3 2\n255\n" + px.tobytes()
    assert np.array_equal(M.real_decoder(content, "image"), px)
    gray = px[:, :, :1]
    content = b"P5 3 2 255\n" + gray.tobytes()
    assert np.array_equal(M.real_decoder(content, "image"), gray)


def test_decode_media_with_real_png_payloads(spark):
    """End-to-end: real PNG bytes through the Spark decode plumbing
    (mapInPandas + real_decoder), not the fake."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    for i in range(6):
        h, w = 4 + i, 3 + i
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append(
            {
                "doc_id": f"d{i}",
                "media_ref": f"m{i}",
                "kind": "image",
                "content": bytearray(_png_bytes(px)),
                "meta": {"mime": "image/png", "n_bytes": 0, "duration_ms": 0},
                "_mean": float(px.mean()),
                "_h": h,
                "_w": w,
            }
        )
    media = spark.createDataFrame(
        [
            {k: v for k, v in r.items() if not k.startswith("_")}
            for r in rows
        ],
        M.MEDIA_SCHEMA,
    )
    decoded = {r.media_ref: r for r in M.decode_media(
        media, decoder=M.real_decoder
    ).collect()}
    for r in rows:
        d = decoded[r["media_ref"]]
        assert (d.height, d.width, d.channels) == (r["_h"], r["_w"], 3)
        assert abs(d.mean_intensity - r["_mean"]) < 1e-6


def test_decode_media_fake(spark, media):
    decoded = M.decode_media(media, decoder=M.fake_decoder)
    rows = decoded.collect()
    assert len(rows) == media.count()
    for r in rows[:20]:
        assert 16 <= r.width <= 32 and 16 <= r.height <= 32
        assert r.channels in (1, 3)
        assert 0.0 <= r.mean_intensity <= 255.0
    # deterministic: same input → same decode summary
    again = {(r.doc_id, r.media_ref): r.mean_intensity for r in decoded.collect()}
    first = {(r.doc_id, r.media_ref): r.mean_intensity for r in rows}
    assert again == first


def test_extract_features(spark, media):
    feats = M.extract_features(media, decoder=M.fake_decoder, dim=8)
    rows = feats.collect()
    assert len(rows) == media.count()
    assert all(len(r.features) == 8 for r in rows)


def test_sample_frames(spark):
    rows = [
        ("d1", "media://v/1", "video", bytearray(b"abc"),
         {"mime": "video/mp4", "n_bytes": 3, "duration_ms": 3500}),
        ("d2", "media://v/2", "video", bytearray(b"xyz"),
         {"mime": "video/mp4", "n_bytes": 3, "duration_ms": 0}),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    frames = M.sample_frames(media, every_ms=1000)
    got = {(r.doc_id, r.frame_ts_ms) for r in frames.collect()}
    assert got == {("d1", 0), ("d1", 1000), ("d1", 2000), ("d1", 3000), ("d2", 0)}


def test_resize_media_nearest_neighbor_oracle(spark, media):
    """resize_media vs a fresh per-pixel Python oracle (independent
    loop-based NN lookup, no shared indexing code)."""
    import numpy as np

    th, tw = 8, 5
    out = {
        r["media_ref"]: r.asDict()
        for r in M.resize_media(
            media, target=(th, tw), decoder=M.fake_decoder
        ).collect()
    }
    src = media.select("media_ref", "kind", "content").collect()
    assert len(out) == len({r["media_ref"] for r in src})
    for r in src:
        arr = M.fake_decoder(bytes(r["content"]), r["kind"])
        if arr.ndim == 2:
            arr = arr[:, :, None]
        h, w, c = arr.shape
        want = np.zeros((th, tw, c), dtype=np.uint8)
        for i in range(th):
            for j in range(tw):
                want[i, j] = arr[
                    min(int((i + 0.5) * h / th), h - 1),
                    min(int((j + 0.5) * w / tw), w - 1),
                ]
        got = out[r["media_ref"]]
        assert (got["height"], got["width"], got["channels"]) == (th, tw, c)
        got_arr = np.frombuffer(bytes(got["content"]), dtype=np.uint8).reshape(
            th, tw, c
        )
        assert np.array_equal(got_arr, want), r["media_ref"]
        assert got["mean_intensity"] == pytest.approx(float(want.mean()))


def test_resize_media_upsample_and_identity(spark, media):
    """Upsampling past the source size still produces the exact target
    shape; resizing to the source's own shape is the identity."""
    import numpy as np

    big = M.resize_media(media, target=(64, 64), decoder=M.fake_decoder)
    for r in big.limit(3).collect():
        assert (r["height"], r["width"]) == (64, 64)
        assert len(bytes(r["content"])) == 64 * 64 * r["channels"]
    # identity check on one item
    one = media.limit(1).collect()[0]
    arr = M.fake_decoder(bytes(one["content"]), one["kind"])
    if arr.ndim == 2:
        arr = arr[:, :, None]
    same = M.resize_media(
        spark.createDataFrame([one], media.schema),
        target=arr.shape[:2],
        decoder=M.fake_decoder,
    ).collect()[0]
    got = np.frombuffer(bytes(same["content"]), dtype=np.uint8).reshape(arr.shape)
    assert np.array_equal(got, arr)


def test_decode_ppm_crlf_header_and_truncation():
    import numpy as np

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    # CRLF after maxval (Windows writers): must not shift pixel data.
    # _decode_ppm directly — the contract pinned here is the BUILTIN
    # decoder's; with pillow installed real_decoder routes to PIL,
    # whose PPM plugin has its own (stricter) header handling
    content = b"P6\n3 2\n255\r\n" + px.tobytes()
    assert np.array_equal(M._decode_ppm(content), px)
    # truncated payload raises cleanly, not a silent short read
    import pytest as _pytest

    with _pytest.raises(ValueError):
        M._decode_ppm(b"P6\n3 2\n255\n" + px.tobytes()[:-1])
    with _pytest.raises(ValueError):
        M._decode_ppm(b"P6\n3 2")
    with _pytest.raises(ValueError):
        M._decode_ppm(b"P6 3 2 ")  # header cut + trailing whitespace


def _palette_png_bytes(indices, palette, trns=None):
    """Spec-conformant palette (color type 3) PNG encoder: index
    scanlines (filter 0) + PLTE and optional tRNS chunks."""
    import struct
    import zlib

    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape

    chunk = _chunk

    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    out += chunk(b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes())
    if trns is not None:
        out += chunk(b"tRNS", bytes(trns))
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_decode_palette_png_matches_rgb_expansion():
    """A palette PNG must decode to exactly the RGB expansion of its
    indices (and RGBA when tRNS supplies per-index alpha) — the same
    expansion PIL's convert() applies (_decode_png directly: the
    contract pinned is the BUILTIN decoder's)."""
    import numpy as np

    rng = np.random.default_rng(11)
    palette = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(5, 7), dtype=np.uint8)
    got = M._decode_png(_palette_png_bytes(idx, palette))
    assert got.shape == (5, 7, 3)
    assert np.array_equal(got, palette[idx])
    # tRNS shorter than the palette: listed indices get their alpha,
    # the rest default to 255
    trns = [10, 200, 255, 0]
    got_a = M._decode_png(_palette_png_bytes(idx, palette, trns=trns))
    assert got_a.shape == (5, 7, 4)
    assert np.array_equal(got_a[:, :, :3], palette[idx])
    alpha = np.full(16, 255, dtype=np.uint8)
    alpha[:4] = trns
    assert np.array_equal(got_a[:, :, 3], alpha[idx])
    # decode through the production hook too (routes to the builtin
    # when PIL is absent; PIL produces the identical expansion)
    got_hook = M.real_decoder(_palette_png_bytes(idx, palette), "image")
    assert np.array_equal(got_hook, palette[idx])
    # out-of-range index is a corrupt file, not a silent wrap
    import pytest as _pytest

    small = np.asarray([[0, 1], [2, 9]], dtype=np.uint8)
    with _pytest.raises(ValueError):
        M._decode_png(_palette_png_bytes(small, palette[:3]))


def _wav_bytes(samples, sampwidth):
    """PCM WAV encoder via stdlib wave; samples is (n_frames, n_ch)."""
    import io
    import wave

    import numpy as np

    arr = np.asarray(samples)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(arr.shape[1])
        w.setsampwidth(sampwidth)
        w.setframerate(8000)
        w.writeframes(arr.tobytes())
    return buf.getvalue()


def test_real_decoder_wav_roundtrip():
    """Spec-conformant PCM WAV bytes round-trip through the builtin
    audio decode: shape (1, n_frames, n_channels), RAW sample values
    (uint8 / int16 / int32 by sample width), bit-for-bit."""
    import numpy as np

    rng = np.random.default_rng(5)
    # 16-bit stereo
    s16 = rng.integers(-32768, 32768, size=(50, 2)).astype("<i2")
    got = M.real_decoder(_wav_bytes(s16, 2), "audio")
    assert got.shape == (1, 50, 2)
    assert np.array_equal(got[0], s16)
    # 8-bit mono (WAV 8-bit is unsigned)
    s8 = rng.integers(0, 256, size=(30, 1)).astype(np.uint8)
    got = M.real_decoder(_wav_bytes(s8, 1), "audio")
    assert got.shape == (1, 30, 1)
    assert np.array_equal(got[0], s8)
    # 32-bit mono
    s32 = rng.integers(-(2**31), 2**31, size=(20, 1)).astype("<i4")
    got = M.real_decoder(_wav_bytes(s32, 4), "audio")
    assert got.shape == (1, 20, 1)
    assert np.array_equal(got[0], s32)
    # 24-bit stereo: little-endian triples sign-extend into int32
    vals = np.array(
        [[-(2**23), 2**23 - 1], [-1, 0], [123456, -654321]], dtype=np.int64
    )
    triples = bytearray()
    for frame in vals:
        for v in frame:
            triples += int(v & 0xFFFFFF).to_bytes(3, "little")
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(2)
        wv.setsampwidth(3)
        wv.setframerate(8000)
        wv.writeframes(bytes(triples))
    got = M.real_decoder(buf.getvalue(), "audio")
    assert got.shape == (1, 3, 2)
    assert np.array_equal(got[0], vals)
    # non-WAV audio stays explicitly unimplemented
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        M.real_decoder(b"ID3\x04mp3-ish payload", "audio")
    with _pytest.raises(NotImplementedError):
        M.real_decoder(b"RIFF\x00\x00\x00\x00AVI LIST", "audio")


def test_decode_media_with_real_wav_payloads(spark):
    """End-to-end: real PCM WAV bytes through the Spark decode
    plumbing (mapInPandas + real_decoder) as kind='audio'."""
    import numpy as np

    rng = np.random.default_rng(9)
    rows, expect = [], {}
    for i in range(4):
        n = 40 + 10 * i
        s = rng.integers(-32768, 32768, size=(n, 2)).astype("<i2")
        expect[f"a{i}"] = (n, float(s.mean()))
        rows.append(
            {
                "doc_id": f"d{i}",
                "media_ref": f"a{i}",
                "kind": "audio",
                "content": bytearray(_wav_bytes(s, 2)),
                "meta": {"mime": "audio/wav", "n_bytes": 0, "duration_ms": 0},
            }
        )
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    decoded = {
        r.media_ref: r
        for r in M.decode_media(media, decoder=M.real_decoder).collect()
    }
    for ref, (n, mean) in expect.items():
        d = decoded[ref]
        assert (d.height, d.width, d.channels) == (1, n, 2)
        assert abs(d.mean_intensity - mean) < 1e-9


def _png16_bytes(pixels16, filters=None):
    """16-bit PNG encoder (stdlib only): big-endian samples, per-row
    filter types applied at BYTE level with the 16-bit pixel byte
    width as the left offset — exactly the spec's filter model."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels16, dtype=">u2")
    h, w, nch = px.shape
    color = {1: 0, 3: 2, 4: 6}[nch]
    bpp = 2 * nch
    filters = filters or [0] * h

    chunk = _chunk

    flat = np.frombuffer(px.tobytes(), np.uint8).reshape(
        h, w * bpp
    ).astype(np.int32)
    raw = b""
    prev = np.zeros(w * bpp, dtype=np.int32)
    for y, ft in zip(range(h), filters):
        line = flat[y]
        if ft == 0:
            enc = line
        elif ft == 1:
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            enc = (line - left) & 0xFF
        elif ft == 2:
            enc = (line - prev) & 0xFF
        elif ft == 3:
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            enc = (line - (left + prev) // 2) & 0xFF
        else:  # Paeth
            enc = np.empty_like(line)
            for x in range(w * bpp):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (line[x] - pred) & 0xFF
        raw += bytes([ft]) + enc.astype(np.uint8).tobytes()
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 16, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_png_16bit_high_byte_reduction():
    """16-bit PNGs decode through all five filters with the 16-bit
    byte-pair filter offset, reducing each sample to its high byte
    (the decoder's uint8 output contract)."""
    import numpy as np

    rng = np.random.default_rng(21)
    for nch in (1, 3, 4):
        px = rng.integers(0, 65536, size=(6, 5, nch)).astype(">u2")
        content = _png16_bytes(px, filters=[0, 1, 2, 3, 4, 2])
        got = M._decode_png(content)
        assert got.shape == (6, 5, nch)
        assert got.dtype == np.uint8
        assert np.array_equal(got, (px >> 8).astype(np.uint8)), f"nch={nch}"
    # an ILLEGAL depth/color combination (4-bit RGB) raises ValueError
    import struct
    import zlib
    import pytest as _pytest

    chunk = _chunk

    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x11\x00\x22"))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError):
        M._decode_png(bad)


# Adam7 pass table: intentionally the decoder's own (the fixture
# encoders must agree with it on pass ORDER; pass membership is
# still independently exercised by the odd-size/empty-pass cases)
_ADAM7 = M._ADAM7


def _adam7_png_bytes(px, depth=8, palette=None, pass_filter=0):
    """Adam7-interlaced PNG encoder (stdlib only): seven sub-images,
    each row filtered with `pass_filter` (0=None or 2=Up) per spec."""
    import struct
    import zlib

    import numpy as np

    if palette is not None:
        idx = np.asarray(px, dtype=np.uint8)
        h, w = idx.shape
        color, nch, planes = 3, 1, idx[:, :, None]
    else:
        arr = np.asarray(px)
        h, w, nch = arr.shape
        color = {1: 0, 3: 2, 4: 6}[nch]
        planes = arr
    bpp = nch * (depth // 8)
    if depth == 16:
        byte_grid = np.frombuffer(
            np.ascontiguousarray(planes.astype(">u2")).tobytes(), np.uint8
        ).reshape(h, w, bpp)
    else:
        byte_grid = np.ascontiguousarray(planes.astype(np.uint8)).reshape(
            h, w, bpp
        )

    chunk = _chunk

    raw = b""
    for x0, y0, dx, dy in _ADAM7:
        ys = list(range(y0, h, dy))
        xs = list(range(x0, w, dx))
        if not ys or not xs:
            continue
        prev = np.zeros(len(xs) * bpp, dtype=np.int32)
        for y in ys:
            line = byte_grid[y, xs].reshape(-1).astype(np.int32)
            if pass_filter == 0:
                enc = line
            else:  # Up
                enc = (line - prev) & 0xFF
            raw += bytes([pass_filter]) + enc.astype(np.uint8).tobytes()
            prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 1)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", np.asarray(palette, np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_decode_png_adam7_interlaced():
    """Adam7-interlaced PNGs decode identically to their plain pixel
    grid: odd sizes (partial/empty passes), every color type, 16-bit,
    palette, and a non-trivial per-pass filter."""
    import numpy as np

    rng = np.random.default_rng(31)
    for (h, w), nch, pf in [
        ((8, 8), 3, 0),
        ((5, 7), 1, 0),
        ((1, 1), 4, 0),
        ((2, 3), 3, 0),
        ((9, 10), 4, 2),
    ]:
        px = rng.integers(0, 256, size=(h, w, nch), dtype=np.uint8)
        got = M._decode_png(_adam7_png_bytes(px, pass_filter=pf))
        assert np.array_equal(got, px), (h, w, nch, pf)
    # 16-bit interlaced → high-byte reduction
    px16 = rng.integers(0, 65536, size=(6, 5, 3)).astype(">u2")
    got = M._decode_png(_adam7_png_bytes(px16, depth=16))
    assert np.array_equal(got, (px16 >> 8).astype(np.uint8))
    # palette interlaced → RGB expansion
    palette = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, size=(7, 6), dtype=np.uint8)
    got = M._decode_png(_adam7_png_bytes(idx, palette=palette))
    assert np.array_equal(got, palette[idx])


def test_decode_png_randomized_filter_sweep():
    """Seeded randomized round-trip sweep: random shapes, channel
    counts, and PER-ROW filter mixes (the fixed-filter tests cover
    each branch; this covers branch INTERACTIONS — e.g. Paeth reading
    a Sub-reconstructed previous row)."""
    import numpy as np

    rng = np.random.default_rng(47)
    for _ in range(12):
        h = int(rng.integers(1, 12))
        w = int(rng.integers(1, 12))
        nch = int(rng.choice([1, 3, 4]))
        filters = [int(rng.integers(0, 5)) for _ in range(h)]
        px = rng.integers(0, 256, size=(h, w, nch), dtype=np.uint8)
        got = M._decode_png(_png_bytes(px, filters=filters))
        assert np.array_equal(got, px), (h, w, nch, filters)


def test_real_decoder_wav_truncated_raises_value_error():
    """A RIFF/WAVE payload cut mid-chunk must surface as the module's
    corrupt-input contract (ValueError), not an opaque empty-message
    EOFError escaping the mapInPandas task."""
    import numpy as np
    import pytest as _pytest

    s16 = np.zeros((50, 2), dtype="<i2")
    whole = _wav_bytes(s16, 2)
    for cut in (20, 30):
        with _pytest.raises(ValueError):
            M.real_decoder(whole[:cut], "audio")


def _subbit_png_bytes(values, depth, color, palette=None, interlace=0):
    """Sub-8-bit PNG encoder (stdlib only): MSB-first bit packing per
    scanline with zero padding in the last byte, filter 0 rows (plain)
    or per Adam7 pass (interlace=1). `values` are raw code points
    (gray levels or palette indices)."""
    import struct
    import zlib

    import numpy as np

    v = np.asarray(values, dtype=np.uint8)
    h, w = v.shape

    chunk = _chunk

    def pack_block(block):
        bh, bw = block.shape
        raw = b""
        for y in range(bh):
            bits = (
                (block[y][:, None] >> np.arange(depth - 1, -1, -1)) & 1
            ).reshape(-1).astype(np.uint8)
            raw += b"\x00" + np.packbits(bits).tobytes()
        return raw

    if interlace == 0:
        raw = pack_block(v)
    else:
        raw = b""
        for x0, y0, dx, dy in _ADAM7:
            sub = v[y0::dy, x0::dx]
            if sub.size:
                raw += pack_block(sub)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", np.asarray(palette, np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_decode_png_sub8bit_and_gray_alpha():
    """The remaining legal PNG combos: 1/2/4-bit grayscale (expanded
    to full 0-255 range by exact integer factors), 1/2/4-bit palette,
    8/16-bit gray+alpha — plain and Adam7."""
    import numpy as np

    rng = np.random.default_rng(53)
    # sub-8-bit grayscale, plain + interlaced, incl. padded last byte
    for depth in (1, 2, 4):
        mx = (1 << depth) - 1
        v = rng.integers(0, mx + 1, size=(5, 7), dtype=np.uint8)
        want = (v * (255 // mx))[:, :, None]
        got = M._decode_png(_subbit_png_bytes(v, depth, color=0))
        assert np.array_equal(got, want), ("plain gray", depth)
        got_i = M._decode_png(
            _subbit_png_bytes(v, depth, color=0, interlace=1)
        )
        assert np.array_equal(got_i, want), ("adam7 gray", depth)
    # sub-8-bit palette → RGB expansion, raw indices (no scaling)
    for depth in (1, 2, 4):
        mx = (1 << depth) - 1
        palette = rng.integers(0, 256, size=(mx + 1, 3), dtype=np.uint8)
        idx = rng.integers(0, mx + 1, size=(6, 5), dtype=np.uint8)
        got = M._decode_png(
            _subbit_png_bytes(idx, depth, color=3, palette=palette)
        )
        assert np.array_equal(got, palette[idx]), ("plain plte", depth)
        got_i = M._decode_png(
            _subbit_png_bytes(
                idx, depth, color=3, palette=palette, interlace=1
            )
        )
        assert np.array_equal(got_i, palette[idx]), ("adam7 plte", depth)
    # gray+alpha (color 4): 8-bit round-trip, 16-bit high-byte
    ga = rng.integers(0, 256, size=(4, 6, 2), dtype=np.uint8)
    got = M._decode_png(_ga_png_bytes(ga, 8))
    assert np.array_equal(got, ga)
    ga16 = rng.integers(0, 65536, size=(4, 6, 2)).astype(">u2")
    got16 = M._decode_png(_ga_png_bytes(ga16, 16))
    assert np.array_equal(got16, (ga16 >> 8).astype(np.uint8))


def _ga_png_bytes(px, depth):
    """Gray+alpha (color type 4) encoder, filter-0 rows."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(px)
    h, w, _ = arr.shape

    chunk = _chunk

    if depth == 16:
        body = np.ascontiguousarray(arr.astype(">u2"))
    else:
        body = np.ascontiguousarray(arr.astype(np.uint8))
    raw = b"".join(
        b"\x00" + body[y].tobytes() for y in range(h)
    )
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 4, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
