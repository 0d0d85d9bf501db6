"""Audio codec decode + per-clip features as Arrow-vectorized pandas UDFs.

The engine's per-row invariant (BASELINE.json): decoded PCM must match the
generator's float PCM with SNR >= 30 dB, and transcripts must survive the
pipeline byte-identical. Codecs are pcm16 (int16 LE), G.711 mu-law and
A-law, and IMA ADPCM, all decoded to int16 PCM through one table
(``_DECODERS``) in pure numpy, so expected energy is analytically known
(pure sine => mean-square = A^2/2). The Arrow pass (audio_arrow) decodes
through the same table and runs the same spectral kernel.

Design rules (north rule: never per-row Python):
- All decode/feature computation happens inside ``pandas_udf`` bodies
  operating on Arrow record batches: one Python invocation per ~10k rows,
  numpy-vectorized inside.
- The variable-length inner loop (clips have different lengths) uses
  numpy.frombuffer per clip — zero-copy views over Arrow buffers — and the
  reductions (energy, peak) are O(n) numpy ops over int16, written once in
  ``_energy_i16``/``_peak_i16``. For equal batch shapes this is the same
  work a dedicated audio engine would do.
- Feature UDFs (energy/duration/peak) return scalars, so shuffles carry
  8-byte doubles, never decoded PCM. Full PCM decode (``decode_pcm``)
  exists for pipelines that need frames downstream, but windowed aggregates
  should use the scalar UDFs.

The reference's only binary transformer is cast-to-string
(binary_to_string.py:79-86); this module is its engine-grade inverse.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------- codecs
#
# One decode table, ``_DECODERS``: a uint8 view of one payload -> int16 PCM.
# The pandas UDFs below and the Arrow pass (audio_arrow) both decode through
# it. Every codec has the same full scale, 32767: float samples are
# int16 / 32767, and energy and peak divide by it.

_FS = 32767.0
_ULAW_BIAS = 0x84  # 132
_ULAW_CLIP = 32635
_EMPTY_I16 = np.empty(0, dtype=np.int16)


def pcm16_encode(x: np.ndarray) -> bytes:
    """float [-1,1] -> int16 LE bytes."""
    q = np.clip(np.rint(x * _FS), -32768, 32767).astype("<i2")
    return q.tobytes()


def ulaw_encode(x: np.ndarray) -> bytes:
    """float [-1,1] -> G.711 mu-law bytes (vectorized, standard algorithm)."""
    pcm = np.clip(np.rint(x * _FS), -32768, 32767).astype(np.int32)
    sign = np.where(pcm < 0, 0x80, 0)
    mag = np.clip(np.abs(pcm), 0, _ULAW_CLIP) + _ULAW_BIAS
    exponent = (np.floor(np.log2(mag)) - 7).astype(np.int32)
    exponent = np.clip(exponent, 0, 7)
    mantissa = (mag >> (exponent + 3)) & 0x0F
    u = ~(sign | (exponent << 4) | mantissa) & 0xFF
    return u.astype(np.uint8).tobytes()


def _build_ulaw_lut() -> np.ndarray:
    """All 256 mu-law codes decoded once -> int16 LUT (max magnitude 32124);
    per-clip decode is then a single 1 B -> 2 B gather instead of six int32
    temporaries per clip."""
    u = (~np.arange(256, dtype=np.int32)) & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    mag = ((mantissa << 3) + _ULAW_BIAS) << exponent
    pcm = mag - _ULAW_BIAS
    pcm = np.where(sign != 0, -pcm, pcm)
    return pcm.astype(np.int16)


def _build_alaw_lut() -> np.ndarray:
    """G.711 A-law: all 256 codes decoded once (ITU G.711 / classic
    alaw2linear) -> int16 LUT (max magnitude 32256), gathered per clip like
    the mu-law LUT."""
    out = np.empty(256, dtype=np.int16)
    for code in range(256):
        a = code ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        out[code] = t if (a & 0x80) else -t
    return out


_ULAW_I16 = _build_ulaw_lut()
_ALAW_I16 = _build_alaw_lut()

_ALAW_SEG_END = np.array(
    [0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF, 0x3FFF, 0x7FFF], dtype=np.int32
)


def alaw_encode(x: np.ndarray) -> bytes:
    """float [-1,1] -> G.711 A-law bytes (vectorized linear2alaw)."""
    pcm = np.clip(np.rint(x * _FS), -32768, 32767).astype(np.int32)
    mask = np.where(pcm >= 0, 0xD5, 0x55).astype(np.int32)
    mag = np.where(pcm >= 0, pcm, -pcm - 8)
    mag = np.maximum(mag, 0)
    seg = np.searchsorted(_ALAW_SEG_END, mag, side="left").astype(np.int32)
    full = seg >= 8
    seg_c = np.minimum(seg, 7)
    shift = np.where(seg_c < 2, 4, seg_c + 3)
    aval = (seg_c << 4) | ((mag >> shift) & 0x0F)
    aval = np.where(full, 0x7F, aval)
    return ((aval ^ mask) & 0xFF).astype(np.uint8).tobytes()


# IMA ADPCM (DVI4): 4 bits/sample with a predictive state machine. Block
# format here: 4-byte header (int16 LE predictor, uint8 step index, 1
# reserved) + packed nibbles, low nibble first. The decode is inherently
# sequential (each step feeds the next), so it is an O(n) Python loop —
# correct and deterministic, but ~100x slower than the LUT codecs; a native
# decoder would replace its ``_DECODERS`` entry.
_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int32)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_step(pred: int, idx: int, nib: int) -> tuple[int, int]:
    step = int(_IMA_STEPS[idx])
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    pred = pred - diff if (nib & 8) else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + int(_IMA_INDEX[nib & 7])))
    return pred, idx


def adpcm_encode(x: np.ndarray) -> bytes:
    """float [-1,1] -> IMA ADPCM block (4-byte header + packed nibbles)."""
    pcm = np.clip(np.rint(x * _FS), -32768, 32767).astype(np.int32)
    n = len(pcm)
    pred, idx = (int(pcm[0]) if n else 0), 0
    nibs = bytearray()
    for s in pcm:
        step = int(_IMA_STEPS[idx])
        delta = int(s) - pred
        nib = 8 if delta < 0 else 0
        if delta < 0:
            delta = -delta
        if delta >= step:
            nib |= 4
            delta -= step
        if delta >= step >> 1:
            nib |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            nib |= 1
        pred, idx = _ima_step(pred, idx, nib)
        nibs.append(nib)
    header = int(pcm[0] if n else 0).to_bytes(2, "little", signed=True) + bytes(
        [0, 0]
    )
    packed = bytearray()
    for k in range(0, len(nibs), 2):
        lo = nibs[k]
        hi = nibs[k + 1] if k + 1 < len(nibs) else 0
        packed.append(lo | (hi << 4))
    return header + bytes(packed)


def _adpcm_i16(view: np.ndarray) -> np.ndarray:
    if len(view) < 4:
        return _EMPTY_I16
    pred = int.from_bytes(view[:2].tobytes(), "little", signed=True)
    idx = 0
    packed = view[4:]
    nibs = np.empty(2 * len(packed), dtype=np.uint8)
    nibs[0::2] = packed & 0x0F
    nibs[1::2] = packed >> 4
    out = np.empty(len(nibs), dtype=np.int16)
    for k, nib in enumerate(nibs.tolist()):
        pred, idx = _ima_step(pred, idx, nib)
        out[k] = pred
    return out


#: codec -> (uint8 view of one payload -> int16 PCM). pcm16 reinterprets the
#: view in place, at any byte offset; a trailing odd byte is dropped, so it
#: yields floor(n/2) samples, as ``decoded_samples`` counts them.
_DECODERS = {
    "pcm16": lambda v: v[: len(v) & ~1].view("<i2"),
    "ulaw": lambda v: _ULAW_I16[v],
    "alaw": lambda v: _ALAW_I16[v],
    "adpcm": _adpcm_i16,
}


def _decode_view_i16(view: np.ndarray, codec: str) -> np.ndarray:
    """Decode a uint8 view of one clip's payload to int16 PCM — the
    minimum-traffic form: pcm16 is a zero-copy reinterpret of the Arrow
    buffer (no decode output written at all), ulaw/alaw a 1 B -> 2 B LUT
    gather. The scaling-bench probe shows the 4-executor fleet is
    memory-bandwidth capped, so every decoded byte avoided is fleet
    throughput; float32 conversion happens per cache-resident FFT chunk
    inside ``_spectral_one_i16``."""
    try:
        dec = _DECODERS[codec]
    except KeyError:
        raise ValueError(f"unknown codec: {codec!r}") from None
    return dec(view)


def _decode_i16(b: bytes | None, codec: str) -> np.ndarray:
    if b is None:
        # null payload (failed ingest, outer-join product): zero samples,
        # so every downstream feature degrades to its empty-clip value
        # instead of killing the stage with a worker TypeError
        return _EMPTY_I16
    return _decode_view_i16(np.frombuffer(b, dtype=np.uint8), codec)


def decode(b: bytes | None, codec: str) -> np.ndarray:
    """One payload -> float32 PCM in [-1, 1]: the int16 decode over the
    full scale 32767. NULL bytes give zero samples; an unknown codec raises
    ``unknown codec``."""
    return _decode_i16(b, codec).astype(np.float32) / _FS


def _energy_i16(x: np.ndarray) -> float:
    """Mean-square energy in full-scale units: the exact int64 sum of
    squares divided by 32767² and by n (0.0 for an empty clip)."""
    n = len(x)
    if n == 0:
        return 0.0
    return float(np.einsum("i,i->", x, x, dtype=np.int64)) / (_FS * _FS) / n


def _peak_i16(x: np.ndarray) -> float:
    """max|x| in full-scale units (0.0 for an empty clip). max(max, -min)
    is two temp-free reductions instead of a full |x| temporary."""
    return float(max(int(x.max()), -int(x.min()))) / _FS if len(x) else 0.0


# ---------------------------------------------------------------- pandas UDFs


@F.pandas_udf(T.ArrayType(T.FloatType()))
def decode_pcm(data: pd.Series, codec: pd.Series) -> pd.Series:
    """bytes + codec -> float32 PCM frames. Use only when frames are needed
    downstream; prefer the scalar feature UDFs in aggregation paths.

    NOTE: holding thousands of ~100 KB arrays concurrently makes the page
    -fault path the bottleneck when many executor cores run this at once
    (minor-fault handling serializes kernel-side; measured 10-30x wall
    blow-up at 8-way concurrency). Every reducing feature UDF below streams
    clip-by-clip instead — decode one, reduce, discard — which keeps the
    worker's working set flat and its allocator in steady state. That fused
    shape is also the only one that survives 100 TB.
    """
    return pd.Series([decode(b, c) for b, c in zip(data.to_numpy(), codec.to_numpy())])


def _reduce_clips(data: pd.Series, codec: pd.Series, fn) -> pd.Series:
    """Fused decode->reduce->discard over one Arrow batch: only one decoded
    int16 clip is ever resident (see the decode_pcm note)."""
    return pd.Series(
        [fn(_decode_i16(b, c)) for b, c in zip(data.to_numpy(), codec.to_numpy())]
    )


@F.pandas_udf(T.DoubleType())
def clip_energy(data: pd.Series, codec: pd.Series) -> pd.Series:
    """Mean-square energy of the decoded clip (pure sine => A^2/2)."""
    return _reduce_clips(data, codec, _energy_i16)


@F.pandas_udf(T.DoubleType())
def clip_rms(data: pd.Series, codec: pd.Series) -> pd.Series:
    return _reduce_clips(data, codec, lambda x: float(np.sqrt(_energy_i16(x))))


@F.pandas_udf(T.DoubleType())
def clip_peak(data: pd.Series, codec: pd.Series) -> pd.Series:
    return _reduce_clips(data, codec, _peak_i16)


def decoded_samples(data: Column | str, codec: Column | str) -> Column:
    """Sample count of the decoded clip — with sr_hz gives decoded duration;
    mismatch vs dur_ms flags a corrupt payload. A native expression over
    the encoded length (nothing is decoded, so no Python UDF runs), keyed
    like ``_DECODERS``; same error/null surface as the decoders: an unknown
    or NULL codec raises ``unknown codec``, NULL bytes give 0 samples."""
    n = F.length(data)
    c = F.col(codec) if isinstance(codec, str) else codec
    count = (
        F.when(c == "pcm16", F.floor(n / 2))
        .when(c.isin("ulaw", "alaw"), n)
        .when(c == "adpcm", F.greatest(n - 4, F.lit(0)) * 2)
        .otherwise(
            F.raise_error(F.concat(F.lit("unknown codec: "), F.coalesce(c, F.lit("NULL"))))
        )
    )
    return F.coalesce(count, F.lit(0)).cast("int")


_N_FFT = 512
_HOP = 160  # 10 ms at 16 kHz — the standard STFT hop for speech analysis
_HANN = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(_N_FFT) / _N_FFT)


def _frame(x: np.ndarray, n: int = _N_FFT, hop: int = _HOP) -> np.ndarray:
    """Zero-copy strided frame view (n_frames, n); pads a short clip."""
    if len(x) < n:
        x = np.pad(x, (0, n - len(x)))
    n_frames = 1 + (len(x) - n) // hop
    stride = x.strides[0]
    return np.lib.stride_tricks.as_strided(
        x, shape=(n_frames, n), strides=(hop * stride, stride), writeable=False
    )


_HANN32 = _HANN.astype(np.float32)
# Fixed-size windowed-frame scratch: the FFT runs over <=128-frame chunks so
# each worker's hot working set stays ~0.5 MB regardless of clip length.
# A full-clip frame matrix (up to ~550x512 float32 + complex64 spectrum) puts
# 28 concurrent workers ~60+ MB into shared L3 — measured 28-core throughput
# drops ~2x vs this chunked shape (probe: 23.4k -> 31.4k clips/sec, N->4N
# scaling efficiency 0.70 -> 0.94).
# At the whole-host (24-worker) footprint aggregate scratch approaches the
# shared LLC: 128 frames ~= 1.3 MB hot per worker (f32 buf + f64 upcast +
# c128 spectrum), 64 ~= 0.65 MB. Measured on the quiet host (pinned
# kernel-only workers, best of 2): chunk 64 beats 128 by ~12% at 6 workers
# (2718 vs 2418 clips/s) and ~15% at 24 (10608 vs 9260) with slightly
# better 6->24 scaling (0.976 vs 0.957) — the smaller scratch keeps
# 24 x hot-set inside the shared LLC where 128 spills it; 32 gains nothing
# further (per-chunk FFT dispatch overhead starts to show).
_CHUNK_FRAMES = 64
# thread-local scratch: Spark's Python workers are single-threaded per
# process, but a threaded driver-side caller (batch scoring harness) must
# not share one buffer between interleaved _spectral_one_i16 calls
import threading as _threading

_FFT_TLS = _threading.local()


def _fft_buf() -> np.ndarray:
    buf = getattr(_FFT_TLS, "buf", None)
    if buf is None:
        buf = _FFT_TLS.buf = np.empty((_CHUNK_FRAMES, _N_FFT), dtype=np.float32)
    return buf


def _spectral_one_i16(x: np.ndarray, sr: int) -> tuple:
    """Framed-FFT features of one int16-decoded clip — the one spectral
    kernel, run by the Arrow pass and by ``audio_features``.

    Samples stay at 2 B each (pcm16 payloads are a zero-copy reinterpret of
    the Arrow buffer; ulaw/alaw gather through int16 LUTs): at 4 concurrent
    pinned executors the N-vs-4N scaling bench is bandwidth-capped, not
    compute-capped (probe: the FFT-less pipeline scales at 0.47 while the
    FFT-heavy one reaches 0.79 — data movement IS the ceiling), so bytes
    saved here convert directly into fleet throughput. The windowed-frame
    scratch converts int16 -> float32 per cache-resident chunk (above);
    spectral shape features (dominant/centroid/band fractions) are
    scale-invariant, and energy/peak follow ``_energy_i16``/``_peak_i16``,
    the same reductions as ``clip_energy``/``clip_peak``."""
    n = len(x)
    if n == 0:
        return (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0)
    energy = _energy_i16(x)
    peak = _peak_i16(x)
    zcr = float(np.count_nonzero((x[1:] < 0) != (x[:-1] < 0))) / n
    fr = _frame(x)
    nf = fr.shape[0]
    # numpy's pocketfft wrapper computes rfft in double regardless of input
    # dtype (complex128 out); accumulate |spec|^2 by viewing the complex
    # buffer as contiguous (re, im) float64 pairs and einsum-squaring in ONE
    # fused pass — vs spec.real*spec.real + spec.imag*spec.imag, which
    # allocates three ~200 KB strided temporaries per chunk (measured
    # 474 -> 391 us/clip on the fft+power stage)
    psum2 = np.zeros(2 * (_N_FFT // 2 + 1), dtype=np.float64)
    for st in range(0, nf, _CHUNK_FRAMES):
        ch = fr[st : st + _CHUNK_FRAMES]
        buf = _fft_buf()[: ch.shape[0]]
        np.multiply(ch, _HANN32, out=buf)  # int16 * f32 -> f32, in scratch
        spec = np.fft.rfft(buf, axis=1)
        v = spec.view(np.float64)
        psum2 += np.einsum("ij,ij->j", v, v)
    power = (psum2[0::2] + psum2[1::2]) / nf  # (257,) mean power spectrum
    power[0] = 0.0  # exclude DC from dominant-bin search
    freqs = np.arange(len(power)) * (sr / _N_FFT)
    tot = float(power.sum())
    dom = float(freqs[int(np.argmax(power))])
    centroid = float((freqs * power).sum() / tot) if tot > 0 else 0.0
    # band energy fractions at fixed Hz edges (telephony-ish bands)
    lo = float(power[freqs < 300.0].sum() / tot) if tot > 0 else 0.0
    hi = float(power[freqs >= 3400.0].sum() / tot) if tot > 0 else 0.0
    return (energy, peak, zcr, dom, centroid, lo, hi, nf)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("energy", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zcr", T.DoubleType()),
        T.StructField("dominant_freq_hz", T.DoubleType()),
        T.StructField("spectral_centroid_hz", T.DoubleType()),
        T.StructField("band_low_frac", T.DoubleType()),
        T.StructField("band_high_frac", T.DoubleType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


@F.pandas_udf(AUDIO_FEATURES_SCHEMA)
def audio_features(data: pd.Series, codec: pd.Series, sr_hz: pd.Series) -> pd.DataFrame:
    """Single-decode-pass per-clip DSP feature set (framed 512-pt FFT).

    The synthetic generator's pure sine makes two of these analytically
    verifiable: energy == A^2/2 and dominant_freq_hz == the clip's sine
    frequency (within one 512-bin width). This is the engine's heavy
    vectorized path — the decode+FFT work that at 100 TB dominates the
    pipeline and must scale with cores (north rule N vs 4N)."""
    # fused decode->feature->discard per clip (see the decode_pcm note)
    rows = [
        _spectral_one_i16(_decode_i16(b, c), int(s))
        for b, c, s in zip(data.to_numpy(), codec.to_numpy(), sr_hz.to_numpy())
    ]
    return pd.DataFrame(
        rows,
        columns=[
            "energy", "peak", "zcr", "dominant_freq_hz",
            "spectral_centroid_hz", "band_low_frac", "band_high_frac", "n_frames",
        ],
    )


# Multimodal stub: image/video feature extraction plumbing. The decode
# libraries are not in this container; the Spark-side contract (binary in,
# typed struct out, Arrow batching) is real and tested with the fake.
@F.pandas_udf(T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
]))
def probe_media(data: pd.Series) -> pd.DataFrame:
    """STUB: deterministic fake media probe (real impl needs pillow/ffmpeg,
    not installed here). Derives fake-but-stable dims from payload length."""
    n = data.str.len().fillna(0).astype("int64")
    return pd.DataFrame(
        {
            "width": (16 + (n % 64)).astype("int32"),
            "height": (16 + (n % 48)).astype("int32"),
            "n_frames": (1 + (n % 8)).astype("int32"),
        }
    )


def snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    """Signal-to-noise ratio of decoded vs reference PCM, in dB."""
    n = min(len(reference), len(decoded))
    if n == 0:
        return float("inf")
    ref = reference[:n].astype(np.float64)
    err = ref - decoded[:n].astype(np.float64)
    p_sig = float(np.mean(ref**2))
    p_err = float(np.mean(err**2))
    if p_err == 0.0:
        return float("inf")
    return 10.0 * np.log10(p_sig / p_err)
