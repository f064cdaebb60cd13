"""IMA-ADPCM WAV authoring for the codec tests: an encoder and the
RIFF/WAVE container, the inverse of the engine's decoder
(`multimodal.decode_ima_adpcm_block`, `multimodal.decode_wav`)."""

from __future__ import annotations

import struct

from herodb_spark.operators.multimodal import IMA_STEP_TABLE, _ima_step


def encode_ima_adpcm(samples: list[int], block_samples: int = 505) -> bytes:
    """Mono IMA-ADPCM encoder: standard step-table search, one block
    per `block_samples` (first sample stored verbatim in the block
    header)."""
    out = bytearray()
    index = 0
    i = 0
    n = len(samples)
    while i < n:
        blk = samples[i : i + block_samples]
        i += block_samples
        pred = blk[0]
        out.extend(struct.pack("<hBB", pred, index, 0))
        nibbles: list[int] = []
        for s in blk[1:]:
            step = IMA_STEP_TABLE[index]
            diff = s - pred
            nib = 0
            if diff < 0:
                nib = 8
                diff = -diff
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            pred, index = _ima_step(pred, index, nib)
            nibbles.append(nib)
        if len(nibbles) % 2:
            nibbles.append(0)
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
    return bytes(out)


def wrap_wav_ima(adpcm: bytes, rate: int, block_align: int, n_samples: int) -> bytes:
    """RIFF/WAVE container for mono IMA-ADPCM (format tag 0x11)."""
    spb = (block_align - 4) * 2 + 1
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, rate * block_align // spb, block_align,
        4, 2, spb,
    )
    data = adpcm
    riff = b"WAVE"
    riff += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    riff += b"fact" + struct.pack("<II", 4, n_samples)
    riff += b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        riff += b"\x00"
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
