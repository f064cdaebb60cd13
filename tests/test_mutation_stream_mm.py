from __future__ import annotations

import pytest

from herodb_spark.operators import multimodal as MM
from herodb_spark.operators import mutation as MU
from herodb_spark.operators import streamops as ST
from tests.harness import compare

CASES = [
    (ST.stream_tumbling_agg, ST.STREAM_TUMBLING_AGG_SQL),
    (ST.stream_sessionize, ST.STREAM_SESSIONIZE_SQL),
    (MU.mutation_statements, MU.MUTATION_STATEMENTS_SQL),
    (ST.stream_window_aggs, ST.STREAM_WINDOW_AGGS_SQL),
    (MM.mm_pipeline, MM.MM_PIPELINE_SQL),
]


@pytest.mark.parametrize("fn,sql", CASES, ids=[f.__name__ for f, _ in CASES])
def test_oracle(spark, sf_dir, duck, fn, sql):
    res = compare(fn(spark, sf_dir), sql, duck)
    assert res["ok"], res


def test_corpus_is_ascii(duck):
    """MM_PIPELINE_SQL equates byte offsets with char offsets."""
    n = duck.sql(r"SELECT count(*) FROM documents WHERE text ~ '[^\x00-\x7f]'").fetchone()[0]
    assert n == 0


def test_corpus_fits_frame_series_bound(duck):
    """MM_PIPELINE_SQL enumerates a constant 64 KiB index range
    (DuckDB generate_series can't be lateral)."""
    n = duck.sql("SELECT max(octet_length(encode(text))) FROM documents").fetchone()[0]
    assert n < 65536


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


def test_wav_decode_is_real():
    """decode_wav decodes RIFF/WAVE PCM16: chunk walking (unknown
    chunks skipped, odd sizes padded), exact sample counts / duration
    / peak; other compressed codecs and non-RIFF streams rejected."""
    import struct

    def wav(rate, samples, extra_chunk=False):
        data = b"".join(struct.pack("<h", s) for s in samples)
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        if extra_chunk:
            chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size, padded
        chunks += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    d = MM.decode_wav(wav(8000, [0, 100, -3000, 42], extra_chunk=True))
    assert (d["channels"], d["sample_rate"], d["n_samples"], d["peak"]) == (1, 8000, 4, 3000)
    assert abs(d["duration_s"] - 4 / 8000) < 1e-12
    # compressed codec refused
    bad_fmt = struct.pack("<HHIIHH", 85, 1, 8000, 8000, 1, 16)  # mp3
    blob = (b"RIFF" + struct.pack("<I", 28) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
            + b"data" + struct.pack("<I", 0))
    with pytest.raises(ValueError, match="PCM16"):
        MM.decode_wav(blob)
    with pytest.raises(ValueError, match="RIFF/WAVE"):
        MM.decode_wav(b"ID3\x03...")


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


def test_ima_adpcm_decode_is_real():
    """WAV format tag 0x11 (IMA/DVI ADPCM — a real lossy audio
    codec) decodes through decode_wav: block headers + adaptive
    step-size nibbles, partial final block included; the sine
    roundtrip SNR shows actual signal reconstruction, not a stub."""
    import math

    import numpy as np

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
            dec.extend(MM.decode_ima_adpcm_block(blk, 1))
    m = min(len(dec), n)
    err = np.array(dec[:m]) - np.array(sig[:m])
    snr = 10 * math.log10((np.array(sig[:m]) ** 2).mean() / (err**2).mean())
    assert snr > 20  # real reconstruction
