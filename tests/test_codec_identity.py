"""Identity pins for the audio/video codec buffer kernels in
:mod:`spear_spark.operators.multimodal`: each numpy/digest-slice kernel
must stay byte-for-byte (payloads) and value-for-value (stats) equal to
the per-sample Python formulation it replaced.

- ``attach_wav`` payloads ≡ the stdlib ``wave`` writer over
  ``struct.pack`` of :func:`wav_sample` — the executable spec.
- ``attach_y4m`` payloads ≡ header + ``FRAME`` markers +
  :func:`y4m_frame_bytes`.
- ``decode_wav``, ``decode_y4m`` and ``frame_cut_profile`` stats ≡ the
  per-sample / per-byte Python sums and maxima kept here as the oracle.

Edge rows: a negative id, an id ≥ 2⁴⁰, NULL text and empty text.
"""

import io
import random
import struct
import wave

import pytest

from spear_spark.operators.multimodal import (
    Y4M_W,
    Y4M_H,
    _frame_sads,
    _luma_stats,
    _pcm16_stats,
    _wav_pcm,
    attach_wav,
    attach_y4m,
    decode_wav,
    decode_y4m,
    frame_cut_profile,
    wav_params,
    wav_sample,
    y4m_frame_bytes,
    y4m_n_frames,
)

ROWS = [
    (-7, "a negative id"),
    (2**40 + 5, "an id past 2^40"),
    (3, None),
    (4, ""),
    (5, "plain text row"),
]


def _ref_wav(rid: int, text) -> bytes:
    rate, n = wav_params(text)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            struct.pack(f"<{n}h", *[wav_sample(str(rid), i) for i in range(n)])
        )
    return buf.getvalue()


def _ref_y4m(rid: int, text) -> bytes:
    out = bytearray(f"YUV4MPEG2 W{Y4M_W} H{Y4M_H} F25:1 Ip A1:1 Cmono\n".encode())
    for f in range(y4m_n_frames(text)):
        out += b"FRAME\n" + y4m_frame_bytes(str(rid), f)
    return bytes(out)


def _ref_pcm_stats(vals):
    return sum(v * v for v in vals), max((abs(v) for v in vals), default=0)


def _ref_luma_stats(planes):
    return sum(sum(p) for p in planes), max((max(p) for p in planes), default=0)


def _ref_sads(planes):
    return [sum(abs(x - y) for x, y in zip(a, b)) for a, b in zip(planes, planes[1:])]


def _clip(w: int, h: int, planes) -> bytes:
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F30000:1001 Cmono\n".encode())
    for p in planes:
        out += b"FRAME\n" + bytes(p)
    return bytes(out)


def test_wav_pcm_matches_wav_sample():
    decimals = [str(i).encode() for i in range(300)]
    for key in ("-7", str(2**40 + 5), "0", "123456"):
        for n in (0, 1, 17, 300):
            ref = struct.pack(f"<{n}h", *[wav_sample(key, i) for i in range(n)])
            assert _wav_pcm(key, n, decimals) == ref, (key, n)


def test_pcm16_stats_match_python_formula():
    rng = random.Random(11)
    clips = [
        [],
        [0],
        [-32768],  # |-32768| must not wrap in int16
        [32767, -32768, 1, -1],
        [rng.randint(-32768, 32767) for _ in range(4001)],
    ]
    for vals in clips:
        raw = struct.pack(f"<{len(vals)}h", *vals)
        assert _pcm16_stats(raw) == _ref_pcm_stats(vals), vals[:4]


def test_luma_and_sad_kernels_match_python_formula():
    rng = random.Random(12)
    plane = 6
    extremes = [bytes([0] * plane), bytes([255] * plane)]
    for n_frames in range(5):
        planes = [bytes(rng.randrange(256) for _ in range(plane)) for _ in range(n_frames)]
        for clip in (planes, extremes[: n_frames] * 2):
            assert _luma_stats(clip, plane) == _ref_luma_stats(clip)
            assert _frame_sads(clip, plane) == _ref_sads(clip)


def test_attach_payloads_match_reference_builders(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    wavs = {r.doc_id: bytes(r.payload) for r in attach_wav(df, "text").collect()}
    clips = {r.doc_id: bytes(r.payload) for r in attach_y4m(df, "text").collect()}
    assert set(wavs) == set(clips) == {rid for rid, _ in ROWS}
    for rid, text in ROWS:
        assert wavs[rid] == _ref_wav(rid, text), rid
        assert clips[rid] == _ref_y4m(rid, text), rid


def test_decoders_match_python_oracle(spark):
    """decode_wav over attach_wav's edge rows, and decode_y4m /
    frame_cut_profile over attach_y4m's edge rows plus hand-built clips
    (0, 1 and several frames; bytes 0 and 255; a non-8×8 plane)."""
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    for r in decode_wav(attach_wav(df, "text")).collect():
        text = dict(ROWS)[r.doc_id]
        _rate, n = wav_params(text)
        vals = [wav_sample(str(r.doc_id), i) for i in range(n)]
        assert (r.n_samples, r.sumsq, r.peak) == (n, *_ref_pcm_stats(vals))

    rng = random.Random(13)
    planes = {
        100: [],
        101: [bytes([255] * 12)],
        102: [bytes([0] * 12), bytes([255] * 12), bytes([0] * 12)],
        103: [bytes(rng.randrange(256) for _ in range(12)) for _ in range(6)],
    }
    hand = spark.createDataFrame(
        [(rid, _clip(4, 3, ps)) for rid, ps in planes.items()],
        "doc_id long, payload binary",
    )
    for rid, text in ROWS:
        planes[rid] = [y4m_frame_bytes(str(rid), f) for f in range(y4m_n_frames(text))]
    clips = attach_y4m(df, "text").unionByName(hand)
    decoded = {r.doc_id: r for r in decode_y4m(clips).collect()}
    thr = 1500
    cuts = {r.doc_id: r for r in frame_cut_profile(clips, cut_threshold=thr).collect()}
    assert set(decoded) == set(cuts) == set(planes)
    for rid, ps in planes.items():
        sads = _ref_sads(ps)
        assert (decoded[rid].n_frames, decoded[rid].luma_sum, decoded[rid].luma_max) == (
            len(ps), *_ref_luma_stats(ps)
        ), rid
        c = cuts[rid]
        assert (c.n_frames, c.n_pairs, c.sad_sum, c.sad_max, c.n_cuts) == (
            len(ps), len(sads), sum(sads), max(sads, default=0),
            sum(s >= thr for s in sads),
        ), rid


def test_truncated_wav_raises_with_id(spark):
    """A data chunk shorter than the header's frame count must fail
    loudly with the id, not give stats over the bytes present."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<100h", *range(100)))
    short = buf.getvalue()[:-50]  # 150 of the 200 data bytes
    df = spark.createDataFrame([(9, bytearray(short))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="truncated WAV id=9"):
        decode_wav(df).collect()
