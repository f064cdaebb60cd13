from __future__ import annotations

import pytest

from herodb_spark.operators import multimodal as MM
from herodb_spark.operators import mutation as MU
from herodb_spark.operators import streamops as ST
from tests.harness import compare

CASES = [
    (MU.upsert_table, MU.UPSERT_TABLE_SQL),
    (MU.update_where, MU.UPDATE_WHERE_SQL),
    (MU.delete_where, MU.DELETE_WHERE_SQL),
    (ST.stream_tumbling_agg, ST.STREAM_TUMBLING_AGG_SQL),
    (ST.stream_sessionize, ST.STREAM_SESSIONIZE_SQL),
    (ST.stream_late_dedup, ST.STREAM_LATE_DEDUP_SQL),
    (MM.mm_binary_meta, MM.MM_BINARY_META_SQL),
    (MM.mm_frame_sample, MM.MM_FRAME_SAMPLE_SQL),
    (MU.mutation_statements, MU.MUTATION_STATEMENTS_SQL),
    (ST.stream_window_aggs, ST.STREAM_WINDOW_AGGS_SQL),
]


@pytest.mark.parametrize("fn,sql", CASES, ids=[f.__name__ for f, _ in CASES])
def test_oracle(spark, sf_dir, duck, fn, sql):
    res = compare(fn(spark, sf_dir), sql, duck)
    assert res["ok"], res


def test_corpus_is_ascii(duck):
    """mm_frame_sample's oracle equates byte offsets with char offsets."""
    n = duck.sql(r"SELECT count(*) FROM documents WHERE text ~ '[^\x00-\x7f]'").fetchone()[0]
    assert n == 0


def test_corpus_fits_frame_series_bound(duck):
    """mm_frame_sample's oracle enumerates a constant 64 KiB index
    range (DuckDB generate_series can't be lateral)."""
    n = duck.sql("SELECT max(octet_length(encode(text))) FROM documents").fetchone()[0]
    assert n < 65536


def test_decode_blob_is_stubbed():
    with pytest.raises(NotImplementedError):
        MM.decode_blob(b"xx", "image")


def test_mm_resize_features_oracle(spark, sf_dir, duck):
    from herodb_spark.operators import multimodal as MM
    from tests.harness import compare

    res = compare(MM.mm_resize_features(spark, sf_dir), MM.MM_RESIZE_FEATURES_SQL, duck)
    assert res["ok"], res


def test_mm_resize_features_empty_blob_matches_oracle(spark, tmp_path):
    """Regression: a zero-byte blob must yield NO rows (the oracle's
    position filter emits none), not a row of zero-count bins."""
    import duckdb

    from herodb_spark.operators import multimodal as MM
    from tests.harness import compare

    rows = [
        (1, "", "src0", "en", 0.9),
        (2, "some real text here", "src1", "en", 0.9),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, source string, lang string, quality double").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    res = compare(MM.mm_resize_features(spark, str(tmp_path)), MM.MM_RESIZE_FEATURES_SQL, con)
    assert res["ok"], res
    out = MM.mm_resize_features(spark, str(tmp_path)).collect()
    assert {r.doc_id for r in out} == {2}


def test_ppm_decode_is_real(spark):
    """decode_blob genuinely decodes binary PPM (P6): exact dims and
    channel means on hand-built images, header comments honored,
    truncation and 16-bit rejected, other formats still stubbed."""
    import pytest

    # 2x2 image: R=(10,20,30,40), G=(0,..), B=(255,..)
    px = bytes([10, 0, 255, 20, 0, 255, 30, 0, 255, 40, 0, 255])
    blob = b"P6\n# a comment\n2 2\n255\n" + px
    d = MM.decode_blob(blob, "image")
    assert (d["width"], d["height"], d["maxval"]) == (2, 2, 255)
    assert d["mean_rgb"] == (25.0, 0.0, 255.0)
    with pytest.raises(ValueError, match="truncated"):
        MM.decode_ppm(b"P6\n2 2\n255\n" + px[:-1])
    with pytest.raises(ValueError, match="maxval"):
        MM.decode_ppm(b"P6\n1 1\n65535\n" + bytes(6))
    with pytest.raises(ValueError):  # JPEG is REAL since r13: malformed
        MM.decode_blob(b"\xff\xd8\xff\xe0jpeg", "image")  # bytes now parse-error
    with pytest.raises(NotImplementedError):
        MM.decode_blob(blob, "audio")


def _png(width, height, pixels, filters, color=2):
    """Hand-built PNG encoder for tests: `pixels` is the flat
    reconstructed sample array, `filters` the per-row filter type;
    the test applies the FILTER side of RFC 2083 so decode must
    invert it exactly."""
    import struct
    import zlib

    ch = {0: 1, 2: 3, 6: 4}[color]
    stride = width * ch

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    raw = bytearray()
    for y, ft in enumerate(filters):
        row = pixels[y * stride : (y + 1) * stride]
        raw.append(ft)
        for i in range(stride):
            x = row[i]
            a = row[i - ch] if i >= ch else 0
            b = pixels[(y - 1) * stride + i] if y else 0
            c = pixels[(y - 1) * stride + i - ch] if (y and i >= ch) else 0
            if ft == 0:
                f = x
            elif ft == 1:
                f = x - a
            elif ft == 2:
                f = x - b
            elif ft == 3:
                f = x - ((a + b) >> 1)
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                f = x - pred
            raw.append(f & 0xFF)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_is_real():
    """decode_blob genuinely decodes PNG (stdlib zlib inflate +
    scanline unfilter): exact dims and channel means on hand-built
    images exercising ALL FIVE filter types, RGBA alpha excluded,
    grayscale replicated, interlace/16-bit/palette rejected."""
    import struct
    import zlib

    # 2x5 RGB image, one row per filter type (None/Sub/Up/Avg/Paeth)
    px = []
    for y in range(5):
        for x in range(2):
            px += [10 * y + x, 200 - 10 * y, (7 * (x + 1) * (y + 1)) % 256]
    blob = _png(2, 5, px, [0, 1, 2, 3, 4])
    d = MM.decode_blob(blob, "image")
    assert (d["width"], d["height"], d["maxval"]) == (2, 5, 255)
    exp = tuple(sum(px[c::3]) / 10 for c in range(3))
    assert d["mean_rgb"] == exp
    # RGBA: alpha must not pollute the channel means
    px4 = [1, 2, 3, 255, 5, 6, 7, 0]
    d4 = MM.decode_png(_png(2, 1, px4, [4], color=6))
    assert d4["mean_rgb"] == (3.0, 4.0, 5.0)
    # grayscale replicates into mean_rgb
    dg = MM.decode_png(_png(2, 2, [10, 20, 30, 40], [1, 2], color=0))
    assert dg["mean_rgb"] == (25.0, 25.0, 25.0)
    # rejections: interlace, bad depth, palette, truncation
    def ihdr_png(depth=8, color=2, interlace=0, payload_bytes=4):
        # 1x1 RGB needs exactly 4 filtered bytes (filter + 3 samples)
        body = struct.pack(">IIBBBBB", 1, 1, depth, color, 0, 0, interlace)
        chunk = struct.pack(">I", len(body)) + b"IHDR" + body
        chunk += struct.pack(">I", zlib.crc32(b"IHDR" + body))
        idat = zlib.compress(bytes(payload_bytes))
        ic = struct.pack(">I", len(idat)) + b"IDAT" + idat
        ic += struct.pack(">I", zlib.crc32(b"IDAT" + idat))
        return b"\x89PNG\r\n\x1a\n" + chunk + ic
    with pytest.raises(ValueError, match="interlaced"):
        MM.decode_png(ihdr_png(interlace=1))
    with pytest.raises(ValueError, match="bit depth"):
        MM.decode_png(ihdr_png(depth=16))
    with pytest.raises(ValueError, match="color type"):
        MM.decode_png(ihdr_png(color=3))
    with pytest.raises(ValueError, match="size mismatch"):
        MM.decode_png(ihdr_png(payload_bytes=5))
    # r8 review finding: 0x0 dims must reject cleanly, not divide by 0
    import struct as _st
    import zlib as _zl

    body0 = _st.pack(">IIBBBBB", 0, 0, 8, 2, 0, 0, 0)
    c0 = _st.pack(">I", len(body0)) + b"IHDR" + body0
    c0 += _st.pack(">I", _zl.crc32(b"IHDR" + body0))
    with pytest.raises(ValueError, match="dimensions"):
        MM.decode_png(b"\x89PNG\r\n\x1a\n" + c0)


def test_image_features_mixed_ppm_png_distributed(spark):
    """The Arrow-batched decode stage dispatches per blob on magic
    bytes: PPM and PNG rows in one DataFrame decode side by side
    across partitions, matching the local decoders exactly."""

    def ppm(val):
        return b"P6\n3 2\n255\n" + bytes([val, 255 - val, 7] * 6)

    def png(val):
        px = [val, 255 - val, 7] * 6
        return _png(3, 2, px, [0, 4])

    rows = [(i, ppm(40 * i) if i % 2 else png(40 * i)) for i in range(5)]
    blobs = spark.createDataFrame(rows, "doc_id long, blob binary").repartition(4)
    got = {r.doc_id: r for r in MM.image_features(blobs).collect()}
    assert len(got) == 5
    for i in range(5):
        r = got[i]
        assert (r.width, r.height) == (3, 2)
        assert (r.mean_r, r.mean_g, r.mean_b) == (40.0 * i, 255.0 - 40 * i, 7.0)


def test_image_features_distributed_decode(spark):
    """The Arrow-batched decode stage: per-doc dims + channel means
    across partitions match the local decoder exactly."""

    def ppm(w, h, val):
        return b"P6\n%d %d\n255\n" % (w, h) + bytes([val, 255 - val, 7] * (w * h))

    rows = [(i, ppm(3, 2, 40 * i)) for i in range(5)]
    blobs = spark.createDataFrame(rows, "doc_id long, blob binary").repartition(4)
    got = {r.doc_id: r for r in MM.image_features(blobs).collect()}
    assert len(got) == 5
    for i in range(5):
        r = got[i]
        assert (r.width, r.height) == (3, 2)
        assert (r.mean_r, r.mean_g, r.mean_b) == (40.0 * i, 255.0 - 40 * i, 7.0)


def test_wav_decode_is_real(spark):
    """decode_blob decodes RIFF/WAVE PCM16: chunk walking (unknown
    chunks skipped), exact sample counts / duration / peak; compressed
    codecs rejected."""
    import struct

    import pytest

    def wav(rate, samples, extra_chunk=False):
        data = b"".join(struct.pack("<h", s) for s in samples)
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        if extra_chunk:
            chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size, padded
        chunks += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    d = MM.decode_blob(wav(8000, [0, 100, -3000, 42], extra_chunk=True), "audio")
    assert (d["channels"], d["sample_rate"], d["n_samples"], d["peak"]) == (1, 8000, 4, 3000)
    assert abs(d["duration_s"] - 4 / 8000) < 1e-12
    # compressed codec refused
    bad_fmt = struct.pack("<HHIIHH", 85, 1, 8000, 8000, 1, 16)  # mp3
    blob = (b"RIFF" + struct.pack("<I", 28) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
            + b"data" + struct.pack("<I", 0))
    with pytest.raises(ValueError, match="PCM16"):
        MM.decode_blob(blob, "audio")
    # non-RIFF audio still the honest stub
    with pytest.raises(NotImplementedError):
        MM.decode_blob(b"ID3\x03...", "audio")


def test_mm_audio_features_oracle(spark, sf_dir, duck):
    """The WAV encode→decode→featurize round trip hashes against the
    oracle's direct character math (r11 audio leg)."""
    res = compare(MM.mm_audio_features(spark, sf_dir), MM.MM_AUDIO_FEATURES_SQL, duck)
    assert res["ok"], res


def test_wav_encode_decode_roundtrip():
    """encode_wav output is a spec-valid container decode_wav accepts,
    and the features are exact: a hand-built sample list round-trips
    to its known peak / Σs² / zero-crossing count, including the
    odd-size word-alignment path and a multi-channel layout."""
    samples = [100, -200, 300, -400, 0, 7]
    d = MM.wav_features(MM.encode_wav(samples, rate=8000))
    assert d["n_samples"] == len(samples)
    assert d["sample_rate"] == 8000 and d["channels"] == 1
    assert d["peak"] == 400
    assert d["sum_sq"] == sum(v * v for v in samples)
    # sign changes: +→−, −→+, +→−, −→0(+), 0→+ counts (a<0)!=(b<0)
    assert d["zcr"] == sum(
        1 for a, b in zip(samples, samples[1:]) if (a < 0) != (b < 0)
    )
    # stereo: n_samples counts frames, features run over all values
    st = MM.wav_features(MM.encode_wav([1, -1, 2, -2], rate=4000, channels=2))
    assert st["channels"] == 2 and st["n_samples"] == 2
    assert st["peak"] == 2 and st["sum_sq"] == 1 + 1 + 4 + 4


def test_mm_scene_changes_oracle(spark, sf_dir, duck):
    """Cut detection hashes against the oracle's direct byte math at
    frame stride (r11 scene leg); every cut's |delta| >= SCENE_DELTA
    and its signatures are real bytes of the blob."""
    res = compare(MM.mm_scene_changes(spark, sf_dir), MM.MM_SCENE_CHANGES_SQL, duck)
    assert res["ok"], res
    rows = MM.mm_scene_changes(spark, sf_dir).collect()
    assert rows and all(abs(r.delta) >= MM.SCENE_DELTA for r in rows)
    assert all(r.delta == r.sig - r.prev_sig for r in rows)
    assert all(0 <= r.sig <= 255 and 0 <= r.prev_sig <= 255 for r in rows)


# ----------------------------------------------------------- baseline JPEG
# (r13: operators/jpegcodec.py — own Huffman + numpy-IDCT decoder; the
# minimal encoder exists only to author fixtures independently of the
# decoder, with flat quant=1 tables making loss = DCT float rounding)


def test_jpeg_decode_flat_is_exact():
    import numpy as np

    from herodb_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    img = np.full((16, 24), 130.0)
    d = decode_jpeg(encode_jpeg(img, quant=1), with_pixels=True)
    assert (d["width"], d["height"], d["maxval"]) == (24, 16, 255)
    assert d["pixels"].min() == d["pixels"].max() == 130  # DC-only, exact


def test_jpeg_decode_444_noise_within_rounding():
    import numpy as np

    from herodb_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (40, 33, 3)).astype(float)  # partial MCUs
    d = decode_jpeg(encode_jpeg(img, quant=1), with_pixels=True)
    err = np.abs(d["pixels"].astype(int) - img.astype(int)).max()
    assert err <= 2  # YCbCr+DCT float rounding only
    assert d["pixels"].shape == (40, 33, 3)


def test_jpeg_decode_420_and_restart_markers():
    import numpy as np

    from herodb_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    sm = np.zeros((37, 45, 3))
    sm[..., 0] = np.linspace(30, 220, 45)[None, :]
    sm[..., 1] = np.linspace(60, 180, 37)[:, None]
    sm[..., 2] = 100
    d = decode_jpeg(encode_jpeg(sm, quant=1, subsample=True), with_pixels=True)
    assert d["pixels"].shape == (37, 45, 3)
    assert np.abs(d["pixels"].astype(float) - sm).max() <= 4  # chroma box-avg
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (24, 24, 3)).astype(float)
    d2 = decode_jpeg(encode_jpeg(img, quant=1, restart_interval=2), with_pixels=True)
    assert np.abs(d2["pixels"].astype(int) - img.astype(int)).max() <= 2
    # combined: subsampled + restarts + coarse quant still decodes sanely
    d3 = decode_jpeg(encode_jpeg(sm, quant=8, subsample=True, restart_interval=2))
    for got, want in zip(d3["mean_rgb"], [sm[..., i].mean() for i in range(3)]):
        assert abs(got - want) < 1.0


def test_jpeg_decode_rejects_non_baseline():
    import numpy as np
    import pytest as _pytest

    from herodb_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"nope")
    blob = bytearray(encode_jpeg(np.full((8, 8), 50.0)))
    sof = blob.index(b"\xff\xc0")
    blob[sof + 1] = 0xC2  # progressive
    with _pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(blob))


def test_decode_blob_dispatches_jpeg_and_image_features_mixed(spark):
    """decode_blob now handles baseline JPEG; image_features decodes
    PPM, PNG and JPEG rows side by side across partitions."""
    import numpy as np

    from herodb_spark.operators.jpegcodec import encode_jpeg

    img = np.zeros((2, 3, 3))
    img[..., 0], img[..., 1], img[..., 2] = 40.0, 215.0, 7.0
    jblob = encode_jpeg(img, quant=1)
    d = MM.decode_blob(jblob, "image")
    assert (d["width"], d["height"]) == (3, 2)
    assert all(abs(m - w) <= 1 for m, w in zip(d["mean_rgb"], (40, 215, 7)))

    def ppm(val):
        return b"P6\n3 2\n255\n" + bytes([val, 255 - val, 7] * 6)

    rows = [(0, ppm(40)), (1, jblob), (2, _png(3, 2, [40, 215, 7] * 6, [0, 4]))]
    blobs = spark.createDataFrame(rows, "doc_id long, blob binary").repartition(3)
    got = {r.doc_id: r for r in MM.image_features(blobs).collect()}
    assert len(got) == 3
    assert all((got[i].width, got[i].height) == (3, 2) for i in range(3))
    assert abs(got[1].mean_r - 40) <= 1 and abs(got[1].mean_g - 215) <= 1


def test_ima_adpcm_decode_is_real():
    """WAV format tag 0x11 (IMA/DVI ADPCM — a real lossy audio
    codec) decodes through decode_wav: block headers + adaptive
    step-size nibbles, partial final block included; the sine
    roundtrip SNR shows actual signal reconstruction, not a stub."""
    import math

    import numpy as np

    from herodb_spark.operators.jpegcodec import decode_ima_adpcm_block
    from tests.audio_fixtures import encode_ima_adpcm, wrap_wav_ima

    n = 2000
    sig = (12000 * np.sin(2 * np.pi * np.arange(n) / 64)).astype(int).tolist()
    adpcm = encode_ima_adpcm(sig, block_samples=505)
    block_align = 4 + 252
    wav = wrap_wav_ima(adpcm, 8000, block_align, n)
    d = MM.decode_wav(wav)
    assert d["channels"] == 1 and d["sample_rate"] == 8000
    assert d["n_samples"] >= 1990  # full + partial blocks decoded
    assert 11000 <= d["peak"] <= 13000
    dec = []
    for off in range(0, len(adpcm), block_align):
        blk = adpcm[off : off + block_align]
        if len(blk) >= 4:
            dec.extend(decode_ima_adpcm_block(blk, 1))
    m = min(len(dec), n)
    err = np.array(dec[:m]) - np.array(sig[:m])
    snr = 10 * math.log10((np.array(sig[:m]) ** 2).mean() / (err**2).mean())
    assert snr > 20  # real reconstruction


def test_mjpeg_frame_split_and_scene_cuts():
    """MJPEG video = concatenated baseline JPEGs: the splitter walks
    SOI..EOI pairs and mjpeg_features decodes REAL frames — frame
    count, dims, per-frame luma, scene cut where the luma jumps."""
    import numpy as np
    import pytest as _pytest

    from herodb_spark.operators.jpegcodec import (
        encode_jpeg, mjpeg_features, split_mjpeg_frames,
    )

    dark = encode_jpeg(np.full((16, 16, 3), 40.0), quant=1)
    light = encode_jpeg(np.full((16, 16, 3), 200.0), quant=1)
    stream = dark + dark + light + light
    assert [len(f) for f in split_mjpeg_frames(stream)] == [
        len(dark), len(dark), len(light), len(light)
    ]
    feats = mjpeg_features(stream)
    assert feats["n_frames"] == 4
    assert (feats["width"], feats["height"]) == (16, 16)
    assert feats["scene_cuts"] == [2]
    assert [round(x) for x in feats["mean_luma"]] == [40, 40, 200, 200]
    with _pytest.raises(ValueError, match="no JPEG frames"):
        mjpeg_features(b"not a stream")
