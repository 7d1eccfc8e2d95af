"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side machinery here is real and tested — schema contracts,
batch iteration, partition-preserving projection.  :func:`_decode_backend`
is three-tier: PIL when it is importable and the payload decodes; else
the vendored pure-Python PNG codec (``_png.py`` — real decode/encode
via stdlib zlib, so the non-fake branch executes in CI even without
PIL); else a deterministic fake (md5-derived dimensions) so the
pipeline stays end-to-end testable and oracle-checkable anywhere.

Scale notes:
* binary payloads ride the normal columnar path (parquet binary);
  ``spark.sql.files.maxPartitionBytes`` bounds per-task bytes, and
  Arrow batches bound Python memory (``maxRecordsPerBatch``).
* decode/feature-extract is per-row CPU work with zero shuffle —
  perfectly elastic across 1000 executors.
* frame sampling / resize emit 1→N rows: do it inside the same
  mapInPandas pass (iterator of batches → iterator of batches) so the
  fan-out never materializes driver-side.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from spear_spark.config import stage

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("format", StringType()),
    ]
)


def attach_binary(df: DataFrame, source_col: str, out_col: str = "payload") -> DataFrame:
    """Materialize an opaque binary column (here: utf-8 of a text col;
    in production: parquet binary / file bytes via spark.read.format
    ('binaryFile'))."""
    return df.withColumn(out_col, F.encode(F.col(source_col), "utf-8"))


# Set True to bypass any installed codec and always use the deterministic
# fake (oracle-checkable across engines/environments).
FORCE_FAKE_CODEC = False


def _fake_decode(payload: bytes) -> tuple[int, int, str]:
    """Deterministic fake: dimensions derived from the md5 digest of the
    payload — stable across engines and runs, DuckDB-oracle-checkable."""
    digest = hashlib.md5(payload).hexdigest()
    width = int(digest[:4], 16) % 1920 + 1
    height = int(digest[4:8], 16) % 1080 + 1
    return width, height, "fake"


def _decode_backend(payload: bytes) -> tuple[int, int, str]:
    """Real image decode, three-tier: PIL when it is importable AND the
    payload decodes; else the vendored pure-Python PNG codec
    (``_png.py``, stdlib zlib — CI-executable in this container); else
    the deterministic fake.  The fallback (not a raise) keeps the
    pipeline total: a corrupt/non-image payload at 100 TB must degrade
    to a tagged row, not kill the stage."""
    if not FORCE_FAKE_CODEC:
        try:
            import io

            import PIL.Image

            with PIL.Image.open(io.BytesIO(payload)) as img:
                return img.width, img.height, (img.format or "unknown").lower()
        except ImportError:
            pass  # no PIL in this container — vendored codec below
        except Exception:
            pass  # undecodable payload — vendored codec below
        try:
            from spear_spark.operators import _png

            width, height = _png.png_size(payload)
            return width, height, "png"
        except Exception:
            pass  # not a PNG — fake below
    return _fake_decode(payload)


def decode_images(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Arrow-batched decode: binary payload → (n_bytes, width, height,
    format).  Iterator-of-batches signature keeps memory bounded."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            dims = [_decode_backend(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "width": pd.Series([d[0] for d in dims], dtype="int64"),
                    "height": pd.Series([d[1] for d in dims], dtype="int64"),
                    "format": [d[2] for d in dims],
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(decode, DECODED_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Resize plumbing: payload → payload at (target_w, target_h).
    PNG payloads take the REAL path — vendored decode → nearest-neighbor
    resample → re-encode (``_png.py``, deterministic, stdlib-only); any
    other payload gets the stub (a deterministic truncated/cycled byte
    payload proportional to the target area).  Contract either way:
    same row count, bounded Arrow batches, binary-in/binary-out."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from spear_spark.operators import _png

        n_bytes = max(target_w * target_h // 128, 16)
        for pdf in batches:
            out_payloads = []
            for p in pdf[payload_col]:
                b = bytes(p)
                try:
                    w, h, ch, pixels = _png.decode_png(b)
                    out_payloads.append(
                        _png.encode_png(
                            _png.resize_nearest(pixels, w, h, ch, target_w, target_h),
                            target_w,
                            target_h,
                            ch,
                        )
                    )
                    continue
                except Exception:
                    pass  # non-PNG payload — stub path below
                reps = (n_bytes // max(len(b), 1)) + 1
                out_payloads.append((b * reps)[:n_bytes])
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": target_w,
                    "height": target_h,
                    "payload": out_payloads,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(resize, RESIZED_SCHEMA)


def extract_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload", dim: int = 16
) -> DataFrame:
    """Feature-extraction plumbing: payload → fixed-dim float vector.
    STUB featurizer: md5-seeded deterministic pseudo-embedding (the
    real backend is a vision/audio model over the same batch loop).
    Output feeds directly into operators.similarity (array<float>)."""
    from pyspark.sql.types import ArrayType, FloatType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("features", ArrayType(FloatType()))]
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for p in pdf[payload_col]:
                seed = int(hashlib.md5(bytes(p)).hexdigest()[:8], 16)
                rng = np.random.default_rng(seed)
                feats.append([float(x) for x in rng.standard_normal(dim)])
            yield pd.DataFrame({"doc_id": pdf[id_col].astype("int64"), "features": feats})

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(featurize, schema)


FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_no", LongType()),
        StructField("frame_ts_ms", LongType()),
        StructField("frame_bytes", BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_ms: int = 1000,
) -> DataFrame:
    """Video frame sampling plumbing: one input payload → N frame rows,
    emitted inside the same mapInPandas pass so the fan-out streams
    through Arrow batches and never materializes per-video.

    STUB backend: without a video codec in the container, the fake
    derives a deterministic duration from the payload md5 and emits one
    'frame' (a byte slice) per ``every_ms``.  The contract — iterator of
    batches in, iterator of exploded batches out, bounded memory — is
    the real thing."""

    def explode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_no": [], "frame_ts_ms": [], "frame_bytes": []}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload)
                duration_ms = int(hashlib.md5(b).hexdigest()[8:12], 16) % 5000 + 1000
                for i, ts in enumerate(range(0, duration_ms, every_ms)):
                    out["doc_id"].append(int(doc_id))
                    out["frame_no"].append(i)
                    out["frame_ts_ms"].append(ts)
                    lo = (i * 16) % max(len(b) - 16, 1)
                    out["frame_bytes"].append(b[lo : lo + 16])
            yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        explode_frames, FRAMES_SCHEMA
    )


def _luma_bytes(pixels: bytes, channels: int) -> bytes:
    """Integer Rec.601 luma per pixel — exact int math, no FP."""
    if channels == 1:
        return pixels
    out = bytearray(len(pixels) // channels)
    for i in range(len(out)):
        p = i * channels
        if channels == 2:  # grey + alpha
            out[i] = pixels[p]
        else:  # RGB / RGBA
            out[i] = (
                299 * pixels[p] + 587 * pixels[p + 1] + 114 * pixels[p + 2]
            ) // 1000
    return bytes(out)


def ahash_bits(payload: bytes, hash_size: int = 8) -> int | None:
    """64-bit average perceptual hash of a PNG payload via the VENDORED
    codec only (not PIL — two decoders may disagree on edge-case PNGs,
    and a perceptual hash stored as an index key must be recomputable
    bit-identically anywhere): decode → integer luma → ``hash_size``²
    nearest-neighbor downsample → threshold at the integer mean
    (``> sum // n``).  Returns None for non-PNG payloads (total
    function — a corrupt blob at 100 TB must not kill the stage)."""
    from spear_spark.operators import _png

    try:
        w, h, ch, px = _png.decode_png(payload)
    except Exception:
        return None
    grey = _luma_bytes(px, ch)
    small = _png.resize_nearest(grey, w, h, 1, hash_size, hash_size)
    n = hash_size * hash_size
    mean = sum(small) // n
    bits = 0
    for i, v in enumerate(small):
        if v > mean:
            bits |= 1 << i
    # two's-complement into signed int64 (bit 63 sets the sign)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


AHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("ahash", LongType())]
)


def ahash_images(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload", hash_size: int = 8
) -> DataFrame:
    """Arrow-batched perceptual hashing: payload → 64-bit aHash (null
    for undecodable payloads).  The write-time companion of
    :func:`ahash_near_pairs` — at scale the hash is computed once at
    ingest and stored as an index/partition column."""

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    # p is None for rows with no image (ordinary in a
                    # real ingest table) — hash to null, don't crash
                    "ahash": pd.array(
                        [
                            ahash_bits(bytes(p), hash_size) if p is not None else None
                            for p in pdf[payload_col]
                        ],
                        dtype="Int64",
                    ),
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        hash_batch, AHASH_SCHEMA
    )


def ahash_near_pairs(
    df: DataFrame, id_col: str, hash_col: str, max_hamming: int = 6
) -> DataFrame:
    """Image near-duplicate pairs: Hamming(aHash) ≤ ``max_hamming`` via
    the same lossless pigeonhole banding as ``dedup.simhash_near_pairs``
    — the 64-bit hash splits into ``max_hamming + 1`` disjoint bands
    and any qualifying pair must agree exactly on ≥1 band, so
    candidates come from an equi-join on (band, band_bits), never an
    all-pairs scan (SURVEY §2.6 extension — the reference has no
    multimodal layer at all).  Exact distance check (``bit_count(a ^ b)``)
    filters candidates; results equal brute force.  Band extraction is
    ``shiftright(...).bitwiseAND(mask)`` — a signed ``%`` would give
    NEGATIVE band values for hashes with bit 63 set (which real aHashes
    routinely have) and silently miss their pairs.

    Like simhash, the candidate join runs over DISTINCT hash values —
    images collapse hashes pathologically (every uniform thumbnail
    hashes identically), and the doc-level self-join would go
    quadratic in the duplicate-cluster size where the distinct-hash
    formulation stays linear; identical-hash groups come back as
    hamming-0 pairs through one id self-join.  Bit 63 falls outside
    the 7×9 uniform bands, which stays lossless: ≤ ``max_hamming``
    differing bits can touch at most ``max_hamming`` of the
    ``max_hamming + 1`` bands whether or not every bit is banded.

    Returns (id_a, id_b, hamming) with id_a < id_b."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    if width < 1:
        raise ValueError("ahash_near_pairs: max_hamming must be < 64")
    mask = (1 << width) - 1
    # the hash table is referenced 4x below and typically sits on an
    # expensive decode (mapInPandas) — materialize once
    h = stage(
        df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
        .filter(F.col("h").isNotNull())
    )
    fps = h.select("h").distinct()
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("h"), b * width).bitwiseAND(F.lit(mask)).alias("bv"),
        )
        for b in range(n_bands)
    ]
    bands = (
        fps.select("h", F.array(*band_structs).alias("_bands"))
        .select("h", F.explode("_bands").alias("_bb"))
        .select("h", F.col("_bb.band").alias("band"), F.col("_bb.bv").alias("bv"))
    )
    fa = bands.alias("fa")
    fb = bands.alias("fb")
    fp_pairs = (
        fa.join(
            fb,
            (F.col("fa.band") == F.col("fb.band"))
            & (F.col("fa.bv") == F.col("fb.bv"))
            & (F.col("fa.h") < F.col("fb.h")),
        )
        .select(
            F.col("fa.h").alias("h1"),
            F.col("fb.h").alias("h2"),
            F.bit_count(F.col("fa.h").bitwiseXOR(F.col("fb.h"))).cast("int").alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a hash pair can agree on several bands
    )
    da = h.select(F.col("id").alias("_ida"), F.col("h").alias("h1"))
    db = h.select(F.col("id").alias("_idb"), F.col("h").alias("h2"))
    cross_h = (
        fp_pairs.join(da, "h1")
        .join(db, "h2")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )
    same_h = (
        h.alias("sa")
        .join(
            h.alias("sb"),
            (F.col("sa.h") == F.col("sb.h")) & (F.col("sa.id") < F.col("sb.id")),
        )
        .select(
            F.col("sa.id").alias("id_a"),
            F.col("sb.id").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross_h.unionAll(same_h)


def attach_png(
    df: DataFrame, source_col: str, id_col: str = "doc_id", size: int = 16
) -> DataFrame:
    """Materialize a REAL PNG payload per row (vendored encoder):
    ``size``×``size`` grayscale whose pixels are the row's utf-8 text
    bytes cycled — a deterministic stand-in for a thumbnail store that
    preserves text similarity (near-dup texts → near-identical images),
    so the perceptual-hash operators exercise genuine decode/downsample
    /threshold code paths end-to-end in CI."""
    from spear_spark.operators import _png

    out_schema = StructType(
        [StructField(id_col, LongType()), StructField("payload", BinaryType())]
    )
    n = size * size

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for txt in pdf[source_col]:
                b = (txt or "").encode("utf-8") or b"\x00"
                px = (b * (n // len(b) + 1))[:n]
                payloads.append(_png.encode_png(px, size, size, 1))
            yield pd.DataFrame(
                {id_col: pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(source_col)).mapInPandas(build, out_schema)


# --- audio (PCM WAV): a REAL stdlib modality, not a stub -------------------
# The container has no audio libraries, but PCM WAV is a public format
# Python's stdlib `wave` module writes and reads completely — so unlike
# the image decode backend (which falls back to the vendored PNG codec
# or a deterministic fake when Pillow is absent), the audio path
# exercises a genuine third-party-free parser end-to-end: synthesize
# RIFF/PCM bytes, parse the header, unpack the samples, and certify the
# stats against an engine-independent replay of the generation math.

WAV_RATES = (8000, 16000, 22050, 44100)


def wav_params(text: str) -> tuple[int, int]:
    """Deterministic (sample_rate, n_samples) for a row, md5-derived so
    any engine regenerates them (the p12 fake-dims recipe):
    rate = WAV_RATES[h[0:4] % 4], n_samples = 200 + h[4:8] % 800."""
    import hashlib

    h = hashlib.md5((text or "").encode("utf-8")).hexdigest()
    return (
        WAV_RATES[int(h[0:4], 16) % len(WAV_RATES)],
        200 + int(h[4:8], 16) % 800,
    )


def wav_sample(key: str, i: int) -> int:
    """Sample i of a row's synthetic PCM stream: md5-derived int16 in
    [-32768, 32767] — per-sample md5 keeps the waveform exactly
    replayable in SQL (the minhash_perms convention), unlike a sine
    whose libm last-ulp could flip a rounded sample cross-engine."""
    import hashlib

    return int(hashlib.md5(f"{key}_{i}".encode()).hexdigest()[:4], 16) - 32768


def _wav_pcm(key: str, n: int, decimals: list[bytes]) -> bytes:
    """Little-endian int16 PCM of ``wav_sample(key, i)`` for i < n, in
    one pass: the first two md5 digest bytes, read big-endian, ARE
    ``int(hexdigest()[:4], 16)``, so the clip is the joined digest
    slices shifted by 32768 in one numpy conversion.  ``decimals[i]``
    is ``str(i)`` encoded, shared across a batch's rows."""
    prefix = f"{key}_".encode()
    md5 = hashlib.md5
    hi = b"".join([md5(prefix + d).digest()[:2] for d in decimals[:n]])
    u = np.frombuffer(hi, ">u2").astype(np.int32)
    return (u - 32768).astype("<i2").tobytes()


def attach_wav(
    df: DataFrame, source_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize a REAL mono 16-bit PCM WAV payload per row (stdlib
    ``wave`` writer): sample rate, length, and every sample are pure
    md5 functions of the row's text and id, so a downstream parse can
    be certified against an independent SQL replay byte-for-byte.
    Arrow-batched ``mapInPandas``; emits (id, payload).

    Scale shape: one projection, no shuffle.  Each clip's PCM is built
    by :func:`_wav_pcm` (one md5 per sample, as the spec requires, but
    no per-sample int parse or struct pack), byte-identical to packing
    :func:`wav_sample`; the md5 calls are the remaining per-sample
    cost, and they parallelize with the input's scan splits."""
    import io
    import wave

    out_schema = StructType(
        [StructField(id_col, LongType()), StructField("payload", BinaryType())]
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            params = [wav_params(txt) for txt in pdf[source_col]]
            longest = max((n for _rate, n in params), default=0)
            decimals = [str(i).encode() for i in range(longest)]
            payloads = []
            for rid, (rate, n) in zip(pdf[id_col], params):
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(rate)
                    w.writeframes(_wav_pcm(str(int(rid)), n, decimals))
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {id_col: pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(source_col)).mapInPandas(build, out_schema)


def _pcm16_stats(raw: bytes) -> tuple[int, int]:
    """(Σ sample², max |sample|) of little-endian int16 PCM, exact:
    samples widen to int64 BEFORE ``abs`` (|-32768| overflows int16)
    and before squaring.  An empty clip gives (0, 0)."""
    v = np.frombuffer(raw, "<i2").astype(np.int64)
    if not v.size:
        return 0, 0
    return int((v * v).sum()), int(np.abs(v).max())


def decode_wav(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Parse PCM WAV payloads (stdlib ``wave`` reader — a REAL parser,
    no fake backend) into per-clip stats: ``(id, n_channels,
    sample_rate, n_samples, duration_us, sumsq, peak)``.  Every output
    is an exact integer — duration_us = n_samples·10⁶ div rate, sumsq
    = Σ sampleᵢ² (int64; 16-bit samples bound it at n·2³⁰, ~2³³ rows
    of headroom), peak = max |sample| — so the whole decode loop is
    hash-exact against an engine-independent replay: a mis-parsed
    header offset, endianness, or width shows up as a driver-hash
    mismatch, not a silent skew.  Malformed payloads raise loudly
    (the embedding_gram contract: a silent skip biases every stat).

    Scale shape: one Arrow-batched ``mapInPandas`` projection — no
    shuffle; the header parse is per-row stdlib ``wave`` code on
    in-memory bytes (the image-decode posture), and the sample stats
    are one numpy reduction per clip (:func:`_pcm16_stats`), not a
    Python loop per sample.  A data chunk shorter than its header's
    frame count raises with the id rather than giving stats over the
    samples that happen to be there."""
    import io
    import wave

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("n_channels", IntegerType()),
            StructField("sample_rate", IntegerType()),
            StructField("n_samples", LongType()),
            StructField("duration_us", LongType()),
            StructField("sumsq", LongType()),
            StructField("peak", IntegerType()),
        ]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    raise ValueError(
                        f"decode_wav: NULL payload id={int(rid)} — clean upstream"
                    )
                try:
                    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                        ch, width, rate = (
                            w.getnchannels(), w.getsampwidth(), w.getframerate()
                        )
                        n = w.getnframes()
                        raw = w.readframes(n)
                except Exception as ex:
                    raise ValueError(
                        f"decode_wav: unparseable WAV id={int(rid)}: {ex}"
                    ) from ex
                if width != 2:
                    raise ValueError(
                        f"decode_wav: id={int(rid)} has {8 * width}-bit "
                        "samples — only 16-bit PCM is supported"
                    )
                if len(raw) != n * ch * 2:
                    raise ValueError(
                        f"decode_wav: truncated WAV id={int(rid)}: header "
                        f"says {n} frames ({n * ch * 2} bytes), data has "
                        f"{len(raw)} bytes"
                    )
                sumsq, peak = _pcm16_stats(raw)
                rows.append(
                    (int(rid), ch, rate, n, n * 1_000_000 // rate, sumsq, peak)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "n_channels", "sample_rate", "n_samples",
                    "duration_us", "sumsq", "peak",
                ],
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        decode, out_schema
    )


# --- video (YUV4MPEG2 / .y4m): a REAL public container, pure-Python ---
# Like WAV for audio, y4m is a public format simple enough to write and
# parse without any library: a textual "YUV4MPEG2 W.. H.. F..:.. C.."
# header line, then per frame a "FRAME\n" marker followed by the raw
# plane bytes (Cmono = one W×H luma plane).  The ffmpeg/x264 toolchains
# speak it natively, so payloads produced here are genuinely openable
# elsewhere — the video modality stops being a stub.

Y4M_W, Y4M_H = 8, 8
Y4M_FPS = (25, 1)


def y4m_n_frames(text: str) -> int:
    """Deterministic frame count for a row, md5-derived (the p12/p128
    recipe): 2 + h[8:12] % 6 → 2..7 frames."""
    h = hashlib.md5((text or "").encode("utf-8")).hexdigest()
    return 2 + int(h[8:12], 16) % 6


def y4m_frame_bytes(key: str, frame: int, n: int = Y4M_W * Y4M_H) -> bytes:
    """Frame ``frame``'s luma plane: md5 digest BYTES of
    ``{key}_{frame}_{block}`` concatenated (16 bytes per digest) — the
    per-sample-md5 device, so every plane byte replays exactly in SQL
    as hex pairs of the same digests."""
    out = bytearray()
    for blk in range((n + 15) // 16):
        out.extend(hashlib.md5(f"{key}_{frame}_{blk}".encode()).digest())
    return bytes(out[:n])


def attach_y4m(
    df: DataFrame, source_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize a REAL mono YUV4MPEG2 payload per row: header +
    ``FRAME`` markers + md5-derived luma planes, all pure functions of
    (text, id) so a downstream parse is certifiable against a SQL
    replay byte-for-byte.  Arrow-batched; emits (id, payload)."""
    out_schema = StructType(
        [StructField(id_col, LongType()), StructField("payload", BinaryType())]
    )
    header = (
        f"YUV4MPEG2 W{Y4M_W} H{Y4M_H} "
        f"F{Y4M_FPS[0]}:{Y4M_FPS[1]} Ip A1:1 Cmono\n"
    ).encode("ascii")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for rid, txt in zip(pdf[id_col], pdf[source_col]):
                frames = y4m_n_frames(txt)
                buf = bytearray(header)
                for f in range(frames):
                    buf.extend(b"FRAME\n")
                    buf.extend(y4m_frame_bytes(str(int(rid)), f))
                payloads.append(bytes(buf))
            yield pd.DataFrame(
                {id_col: pdf[id_col].astype("int64"), "payload": payloads}
            )

    return df.select(F.col(id_col), F.col(source_col)).mapInPandas(build, out_schema)


def _y4m_parse(payload, rid: int):
    """The shared YUV4MPEG2 walker behind :func:`decode_y4m` and
    :func:`frame_cut_profile`: validates the header, the FRAME
    markers, and every plane length; returns ``(w, h, fps_num,
    fps_den, [plane bytes per frame])``.  All five failure modes stay
    loud and carry the row id."""
    if payload is None:
        raise ValueError(
            f"decode_y4m: NULL payload id={rid} — clean upstream"
        )
    b = bytes(payload)
    nl = b.find(b"\n")
    if nl < 0 or not b.startswith(b"YUV4MPEG2"):
        raise ValueError(f"decode_y4m: not a YUV4MPEG2 stream id={rid}")
    w = h = num = den = None
    cspace = "420jpeg"  # the format's documented default
    for tok in b[:nl].decode("ascii", "replace").split()[1:]:
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "F":
            num, den = (int(x) for x in tok[1:].split(":"))
        elif tok[0] == "C":
            cspace = tok[1:]
    if not all(x and x > 0 for x in (w, h, num, den)):
        raise ValueError(f"decode_y4m: incomplete header id={rid}")
    if cspace != "mono":
        raise ValueError(
            f"decode_y4m: id={rid} has colorspace "
            f"{cspace!r} — only Cmono is supported"
        )
    plane = w * h
    pos, planes = nl + 1, []
    while pos < len(b):
        marker_end = b.find(b"\n", pos)
        if marker_end < 0 or not b[pos:marker_end].startswith(b"FRAME"):
            raise ValueError(
                f"decode_y4m: bad FRAME marker id={rid} at byte {pos}"
            )
        start = marker_end + 1
        if start + plane > len(b):
            raise ValueError(f"decode_y4m: truncated frame id={rid}")
        planes.append(b[start : start + plane])
        pos = start + plane
    return w, h, num, den, planes


def _frames(planes: list[bytes], plane: int) -> np.ndarray:
    """The clip's planes as one (n_frames, plane) uint8 array."""
    return np.frombuffer(b"".join(planes), np.uint8).reshape(len(planes), plane)


def _luma_stats(planes: list[bytes], plane: int) -> tuple[int, int]:
    """(Σ plane bytes, max byte) over a clip, exact; (0, 0) for a clip
    with no frames."""
    lum = _frames(planes, plane)
    if not lum.size:
        return 0, 0
    return int(lum.sum(dtype=np.int64)), int(lum.max())


def _frame_sads(planes: list[bytes], plane: int) -> list[int]:
    """Sum of absolute luma differences per consecutive frame pair
    (empty for fewer than two frames); int16 holds every byte
    difference and the row sums accumulate in int64."""
    f = _frames(planes, plane).astype(np.int16)
    return np.abs(f[1:] - f[:-1]).sum(axis=1, dtype=np.int64).tolist()


def decode_y4m(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Parse YUV4MPEG2 payloads (REAL pure-Python parser: header
    tokens, FRAME markers, plane sizes — mono colorspace) into
    per-clip stats: ``(id, width, height, fps_num, fps_den, n_frames,
    duration_us, luma_sum, luma_max)``.  Every output is an exact
    integer — duration_us = n_frames·10⁶·den div num, luma_sum =
    Σ plane bytes (int64), luma_max = max byte — so a mis-parsed
    header token, a missing FRAME marker, or a short plane shows up
    as a driver-hash mismatch or a loud error, never a silent skew.
    Malformed payloads and non-mono colorspaces raise with the id.

    Scale shape: one Arrow-batched ``mapInPandas`` projection — no
    shuffle; the header and FRAME markers are walked per row in
    Python, and the luma sum and max are one numpy reduction over the
    clip's planes (:func:`_luma_stats`, the decode_wav posture)."""
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("fps_num", IntegerType()),
            StructField("fps_den", IntegerType()),
            StructField("n_frames", LongType()),
            StructField("duration_us", LongType()),
            StructField("luma_sum", LongType()),
            StructField("luma_max", IntegerType()),
        ]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                w, h, num, den, planes = _y4m_parse(payload, int(rid))
                lsum, lmax = _luma_stats(planes, w * h)
                frames = len(planes)
                rows.append(
                    (
                        int(rid), w, h, num, den, frames,
                        frames * 1_000_000 * den // num, lsum, lmax,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "width", "height", "fps_num", "fps_den",
                    "n_frames", "duration_us", "luma_sum", "luma_max",
                ],
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        decode, out_schema
    )


def frame_cut_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    cut_threshold: int = 2000,
) -> DataFrame:
    """Scene-cut / frame-difference profile over parsed YUV4MPEG2
    clips — the first ANALYSIS pass on top of the p133 decode
    plumbing: per consecutive frame pair, the sum of absolute luma
    differences (SAD, the classical cut detector x264's scenecut uses
    in spirit); per clip, ``(id, n_frames, n_pairs, sad_sum, sad_max,
    n_cuts)`` with a cut counted when a pair's SAD ≥ ``cut_threshold``.
    Every output is an exact int64 — a mis-aligned plane or off-by-one
    frame walk shifts a SAD and shows up as a driver-hash mismatch,
    never a silent skew.  Single-frame clips emit (1, 0, 0, 0, 0) —
    no pairs, NOT an error.

    Scale shape: one Arrow-batched ``mapInPandas`` projection over the
    payload column (the :func:`decode_y4m` posture — same shared
    walker, same five loud failure modes); no shuffle anywhere.  The
    pair SADs are one numpy difference over the clip's stacked planes
    (:func:`_frame_sads`), so a row holds its whole clip as int16."""
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("n_frames", LongType()),
            StructField("n_pairs", LongType()),
            StructField("sad_sum", LongType()),
            StructField("sad_max", LongType()),
            StructField("n_cuts", LongType()),
        ]
    )
    thr = int(cut_threshold)

    def profile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                w, h, _num, _den, planes = _y4m_parse(payload, int(rid))
                sads = _frame_sads(planes, w * h)
                rows.append(
                    (
                        int(rid),
                        len(planes),
                        len(sads),
                        sum(sads),
                        max(sads, default=0),
                        sum(sad >= thr for sad in sads),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "n_frames", "n_pairs", "sad_sum", "sad_max",
                    "n_cuts",
                ],
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        profile, out_schema
    )
