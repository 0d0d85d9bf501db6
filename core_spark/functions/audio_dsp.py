# Copyright 2025 Project Team
#
# Licensed under the Apache License, Version 2.0 (the "License");
# you may not use this file except in compliance with the License.
# You may obtain a copy of the License at
#
#      http://www.apache.org/licenses/LICENSE-2.0
#
# Unless required by applicable law or agreed to in writing, software
# distributed under the License is distributed on an "AS IS" BASIS,
# WITHOUT WARRANTIES OR CONDITIONS OF ANY KIND, either express or implied.
# See the License for the specific language governing permissions and
# limitations under the License.

"""Audio DSP kernels for the training-data pipeline: sample-rate conversion,
voice-activity detection / silence trim, log-mel embeddings, and acoustic
fingerprinting — all pure numpy inside Arrow-vectorized pandas UDFs (north
rule: no per-row Python, no external audio libs; everything here runs from
the same decoded-PCM invariant the codec layer guarantees, SNR >= 30 dB).

These are the audio-payload analogs of the text training-data operators
(functions/text.py): where text has token counts / quality scores /
fingerprints, audio has VAD speech ratios / clip quality gates / spectral
constellation hashes. The reference has no audio surface at all (its only
binary op is cast-to-string, binary_to_string.py:79-86) — this module is
part of the graft's payload axis, not a port.

Scale notes:
- Every UDF returns per-clip scalars/short arrays (a 24-float embedding, a
  ~100-hash fingerprint), so shuffles never carry PCM. Decode -> transform
  -> reduce happens inside one Arrow batch and the samples are discarded.
- Resampling emits pcm16 bytes ~= (out_sr/in_sr) x input size; used as a
  *normalization* step (all clips to one rate) its output feeds the sink
  directly — map-only, no shuffle.
- Fingerprint matching (operators/audio_match.py) shuffles (hash, clip,
  t) triples — 20 B rows, the same ids-only-join posture as MinHash LSH.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .audio import decode, pcm16_encode

# ------------------------------------------------------------- resampling


def resample_sinc(x: np.ndarray, sr_in: int, sr_out: int, taps: int = 32) -> np.ndarray:
    """Windowed-sinc sample-rate conversion (Hann-windowed, DC-normalized).

    Anti-aliasing for downsampling comes from scaling the sinc cutoff to
    the output Nyquist. O(n_out * taps) as one gather + dot — no scipy.
    """
    x = np.asarray(x, dtype=np.float64)
    if sr_in == sr_out or len(x) == 0:
        return x.astype(np.float32)
    ratio = sr_out / sr_in
    n_out = int(round(len(x) * ratio))
    if n_out == 0:
        return np.zeros(0, dtype=np.float32)
    t = np.arange(n_out) / ratio          # output instants in input units
    i0 = np.floor(t).astype(np.int64)
    frac = t - i0
    half = taps // 2
    offs = np.arange(-half + 1, half + 1)
    idx = i0[:, None] + offs[None, :]
    valid = (idx >= 0) & (idx < len(x))
    gathered = np.where(valid, x[np.clip(idx, 0, len(x) - 1)], 0.0)
    u = offs[None, :] - frac[:, None]     # tap distance in input samples
    cutoff = min(1.0, ratio)              # fraction of input Nyquist to keep
    kern = cutoff * np.sinc(cutoff * u)
    w = 0.5 + 0.5 * np.cos(np.pi * np.clip(u / half, -1.0, 1.0))
    kern *= w * valid
    norm = kern.sum(axis=1)
    norm[norm == 0] = 1.0
    return ((gathered * kern).sum(axis=1) / norm).astype(np.float32)


# ------------------------------------------------------------------- VAD

_FLOOR = 1e-4  # absolute silence floor (amplitude)


def frame_rms(x: np.ndarray, frame: int) -> np.ndarray:
    n = len(x) // frame
    if n == 0:
        return np.zeros(0)
    y = x[: n * frame].reshape(n, frame)
    return np.sqrt(np.mean(y * y, axis=1))


def vad_mask(x: np.ndarray, sr: int, frame_ms: int = 20, thresh_db: float = -30.0,
             hangover: int = 2) -> np.ndarray:
    """Boolean speech mask per frame: frame RMS above max(peak_rms * 10^(dB/20),
    floor), dilated by ``hangover`` frames so brief dips inside speech hold."""
    frame = max(1, sr * frame_ms // 1000)
    rms = frame_rms(x, frame)
    if len(rms) == 0:
        return np.zeros(0, dtype=bool)
    thr = max(float(rms.max()) * (10.0 ** (thresh_db / 20.0)), _FLOOR)
    m = rms > thr
    if hangover > 0 and m.any():
        k = np.ones(2 * hangover + 1, dtype=np.int64)
        m = np.convolve(m.astype(np.int64), k, mode="same") > 0
    return m


def _speech_frame_runs(x, sr, frame_ms, thresh_db, hangover):
    """(start_frame, end_frame) runs + the frame size in samples."""
    frame = max(1, sr * frame_ms // 1000)
    m = vad_mask(x, sr, frame_ms, thresh_db, hangover)
    if len(m) == 0:
        return [], frame
    edges = np.diff(m.astype(np.int8), prepend=0, append=0)
    starts = np.nonzero(edges == 1)[0]
    ends = np.nonzero(edges == -1)[0]
    return list(zip(starts.tolist(), ends.tolist())), frame


def vad_segments(x: np.ndarray, sr: int, frame_ms: int = 20,
                 thresh_db: float = -30.0, hangover: int = 2) -> list[tuple[int, int]]:
    """Speech segments as (start_ms, end_ms) half-open intervals.

    Boundaries are sample-accurate (frame_index * frame_samples / sr), not
    ``frame_index * frame_ms``: when sr*frame_ms/1000 floors (e.g. sr=999),
    nominal-ms accounting would overstate durations and push speech_ratio
    past 1.0.
    """
    runs, frame = _speech_frame_runs(x, sr, frame_ms, thresh_db, hangover)
    return [(s * frame * 1000 // sr, e * frame * 1000 // sr) for s, e in runs]


def trim_silence(x: np.ndarray, sr: int, frame_ms: int = 20,
                 thresh_db: float = -30.0) -> tuple[np.ndarray, int, int]:
    """Drop leading/trailing silence; returns (trimmed, lead_ms, trail_ms)."""
    if sr <= 0:
        return np.zeros(0, dtype=x.dtype), 0, 0
    runs, frame = _speech_frame_runs(x, sr, frame_ms, thresh_db, hangover=0)
    if not runs:
        return np.zeros(0, dtype=x.dtype), 0, len(x) * 1000 // sr
    lo = runs[0][0] * frame
    hi = min(len(x), runs[-1][1] * frame)
    return x[lo:hi], lo * 1000 // sr, (len(x) - hi) * 1000 // sr


# --------------------------------------------------------------- log-mel

_N_FFT = 512
_HOP = 256


def _spec_frames(x: np.ndarray, n_fft: int = _N_FFT, hop: int = _HOP) -> np.ndarray:
    """Hann-windowed power spectrogram, frames x (n_fft//2+1)."""
    if len(x) < n_fft:
        x = np.pad(x, (0, n_fft - len(x)))
    n = 1 + (len(x) - n_fft) // hop
    idx = np.arange(n)[:, None] * hop + np.arange(n_fft)[None, :]
    frames = x[idx] * np.hanning(n_fft)[None, :]
    spec = np.fft.rfft(frames, axis=1)
    return (spec.real**2 + spec.imag**2)


def mel_filterbank(sr: int, n_mels: int = 24, n_fft: int = _N_FFT) -> np.ndarray:
    """Triangular mel filters (HTK mel scale), n_mels x (n_fft//2+1)."""
    def hz_to_mel(f):
        return 2595.0 * np.log10(1.0 + np.asarray(f) / 700.0)

    def mel_to_hz(m):
        return 700.0 * (10.0 ** (np.asarray(m) / 2595.0) - 1.0)

    n_bins = n_fft // 2 + 1
    mel_pts = np.linspace(hz_to_mel(0.0), hz_to_mel(sr / 2.0), n_mels + 2)
    hz_pts = mel_to_hz(mel_pts)
    bin_hz = np.arange(n_bins) * sr / n_fft
    fb = np.zeros((n_mels, n_bins))
    for i in range(n_mels):
        lo, c, hi = hz_pts[i], hz_pts[i + 1], hz_pts[i + 2]
        up = (bin_hz - lo) / max(c - lo, 1e-9)
        down = (hi - bin_hz) / max(hi - c, 1e-9)
        fb[i] = np.clip(np.minimum(up, down), 0.0, None)
    return fb


def logmel_embedding(x: np.ndarray, sr: int, n_mels: int = 24) -> np.ndarray:
    """Time-pooled log-mel vector — a cheap deterministic audio embedding
    (feeds the similarity/near-dup operators the way text embeddings do)."""
    p = _spec_frames(np.asarray(x, dtype=np.float64))
    fb = mel_filterbank(sr, n_mels)
    mel = p @ fb.T                      # frames x n_mels
    pooled = mel.mean(axis=0) if len(mel) else np.zeros(n_mels)
    return np.log10(pooled + 1e-10).astype(np.float32)


# --------------------------------------------------------- fingerprinting

_N_BANDS = 8       # band-split peak picking (one peak per band per frame)
_FAN = 5           # anchor pairs with up to FAN following peaks
_MAX_DT = 32       # frames


def constellation_peaks(x: np.ndarray, sr: int) -> np.ndarray:
    """(frame, bin) spectral peaks: the strongest bin in each of _N_BANDS
    log-spaced bands per frame, kept only if well above the clip's global
    median power. Amplitude-invariant by construction.

    Bands start at bin 8: lower bins are narrower than spectral leakage,
    so every clip would emit the same near-DC peaks every frame — measured
    ~30 chance-aligned hash votes between unrelated clips vs <=2 with the
    floor (the global-median gate likewise mutes noise-only frames, whose
    per-frame median is so low that noise wiggles pass a relative test)."""
    p = _spec_frames(np.asarray(x, dtype=np.float64))
    if len(p) == 0:
        return np.zeros((0, 2), dtype=np.int64)
    n_bins = p.shape[1]
    edges = np.unique(np.geomspace(8, n_bins - 1, _N_BANDS + 1).astype(np.int64))
    nz = p[p > 1e-12]
    gmed = float(np.median(nz)) if len(nz) else 1e-12
    out = []
    for t in range(p.shape[0]):
        row = p[t]
        for b in range(len(edges) - 1):
            lo, hi = edges[b], edges[b + 1]
            if hi <= lo:
                continue
            k = lo + int(np.argmax(row[lo:hi]))
            if row[k] > 8.0 * gmed and row[k] > 1e-8:
                out.append((t, k))
    return np.asarray(out, dtype=np.int64).reshape(-1, 2)


def fingerprint(x: np.ndarray, sr: int) -> list[tuple[int, int]]:
    """Shazam-style constellation hashes: (anchor_freq, target_freq, dt)
    packed into an int, paired with the anchor frame. Matching clips share
    many hashes at one constant frame offset (see operators/audio_match)."""
    pk = constellation_peaks(x, sr)
    if len(pk) < 2:
        return []
    out: list[tuple[int, int]] = []
    t, f = pk[:, 0], pk[:, 1]
    for i in range(len(pk)):
        j = i + 1
        fan = 0
        while j < len(pk) and fan < _FAN:
            dt = t[j] - t[i]
            if dt > _MAX_DT:
                break
            if dt >= 1:
                h = int((f[i] << 20) | (f[j] << 8) | dt)
                out.append((h, int(t[i])))
                fan += 1
            j += 1
    return out


# ------------------------------------------------------------ pandas UDFs


def _safe_sr(sr) -> int | None:
    """None for null/invalid/non-positive rates — a malformed row degrades
    to a null output instead of a TypeError/ZeroDivisionError killing the
    whole Arrow batch (same hardened-null contract as functions/audio.py)."""
    try:
        s = int(sr)
    except (TypeError, ValueError):
        return None
    return s if s > 0 else None


@F.pandas_udf(T.BinaryType())
def audio_resample_pcm16(data: pd.Series, codec: pd.Series, sr_hz: pd.Series,
                         out_sr: pd.Series) -> pd.Series:
    """Normalize every clip to ``out_sr`` as pcm16 bytes (rate unification
    before training). Fused decode->resample->encode per clip — only one
    PCM array resident at a time (the decode_pcm note in audio.py explains
    why whole-batch materialization collapses at high core counts). Null
    payload or invalid rate => null output."""
    out = []
    for b, c, sr, o in zip(data.to_numpy(), codec.to_numpy(),
                           sr_hz.to_numpy(), out_sr.to_numpy()):
        s, t = _safe_sr(sr), _safe_sr(o)
        if b is None or c is None or s is None or t is None:
            out.append(None)
            continue
        out.append(pcm16_encode(resample_sinc(decode(b, c), s, t)))
    return pd.Series(out)


VAD_SCHEMA = T.StructType(
    [
        T.StructField("speech_ms", T.IntegerType()),
        T.StructField("n_segments", T.IntegerType()),
        T.StructField("speech_ratio", T.DoubleType()),
        T.StructField("lead_silence_ms", T.IntegerType()),
        T.StructField("trail_silence_ms", T.IntegerType()),
    ]
)


@F.pandas_udf(VAD_SCHEMA)
def audio_vad(data: pd.Series, codec: pd.Series, sr_hz: pd.Series) -> pd.DataFrame:
    """Per-clip VAD stats — the audio quality gate (speech_ratio ~ the text
    quality score's stopword ratio). Fused decode->reduce->discard; empty
    or malformed rows degrade to the zero row."""
    rows = []
    for b, c, sr in zip(data.to_numpy(), codec.to_numpy(), sr_hz.to_numpy()):
        s = _safe_sr(sr)
        x = decode(b, c) if (s is not None and c is not None) else None
        if x is None or len(x) == 0:
            rows.append((0, 0, 0.0, 0, 0))
            continue
        segs = vad_segments(x, s)
        speech = sum(e - s0 for s0, e in segs)
        total = len(x) * 1000 // s
        _, lead, trail = trim_silence(x, s)
        rows.append(
            (int(speech), len(segs), float(speech) / max(total, 1), int(lead), int(trail))
        )
    return pd.DataFrame(
        rows,
        columns=["speech_ms", "n_segments", "speech_ratio", "lead_silence_ms",
                 "trail_silence_ms"],
    )


@F.pandas_udf(T.ArrayType(T.FloatType()))
def audio_logmel(data: pd.Series, codec: pd.Series, sr_hz: pd.Series) -> pd.Series:
    out = []
    for b, c, sr in zip(data.to_numpy(), codec.to_numpy(), sr_hz.to_numpy()):
        s = _safe_sr(sr)
        if b is None or c is None or s is None:
            out.append(None)
            continue
        out.append(logmel_embedding(decode(b, c), s).tolist())
    return pd.Series(out)


FP_SCHEMA = T.ArrayType(
    T.StructType([T.StructField("h", T.LongType()), T.StructField("t", T.IntegerType())])
)


@F.pandas_udf(FP_SCHEMA)
def audio_fingerprint(data: pd.Series, codec: pd.Series, sr_hz: pd.Series) -> pd.Series:
    out = []
    for b, c, sr in zip(data.to_numpy(), codec.to_numpy(), sr_hz.to_numpy()):
        s = _safe_sr(sr)
        if b is None or c is None or s is None:
            out.append(None)
            continue
        out.append(fingerprint(decode(b, c), s))
    return pd.Series(out)


# ------------------------------------------------------- MFCC + quality

_N_MFCC = 13


def _dct2_matrix(n_in: int, n_out: int) -> np.ndarray:
    """Orthonormal DCT-II basis (the standard MFCC transform), n_out x n_in."""
    k = np.arange(n_out)[:, None]
    n = np.arange(n_in)[None, :]
    m = np.cos(np.pi * k * (2 * n + 1) / (2.0 * n_in))
    m *= np.sqrt(2.0 / n_in)
    m[0] *= np.sqrt(0.5)
    return m


def mfcc_embedding(
    x: np.ndarray, sr: int, n_mels: int = 24, n_mfcc: int = _N_MFCC
) -> np.ndarray:
    """Time-pooled MFCC vector: DCT-II over per-frame log-mel energies,
    mean-pooled. The decorrelated twin of logmel_embedding — the compact
    embedding a speech training pipeline stores per clip."""
    p = _spec_frames(np.asarray(x, dtype=np.float64))
    fb = mel_filterbank(sr, n_mels)
    mel = np.log10(p @ fb.T + 1e-10)     # frames x n_mels
    if len(mel) == 0:
        return np.zeros(n_mfcc, dtype=np.float32)
    coef = mel @ _dct2_matrix(n_mels, n_mfcc).T   # frames x n_mfcc
    return coef.mean(axis=0).astype(np.float32)


def quality_stats(x: np.ndarray, sr: int) -> tuple:
    """Per-clip audio quality gate metrics:

    - clipping_ratio: fraction of samples at (or past) full scale — the
      dominant ingest defect in user-generated audio.
    - dc_offset: mean sample value (mic/ADC bias).
    - snr_est_db: VAD-split SNR estimate — speech-frame power over
      noise-frame power; +inf-free (capped at 99 dB), 0-speech or
      0-noise clips degrade to 0.0 / 99.0 respectively.
    - dynamic_range_db: peak over per-frame RMS floor.
    """
    n = len(x)
    if n == 0:
        return (0.0, 0.0, 0.0, 0.0)
    full = 32766.0 / 32767.0
    clip_ratio = float(np.count_nonzero(np.abs(x) >= full)) / n
    dc = float(x.mean())
    # vad_mask is per 20 ms frame — expand to a per-sample mask
    fmask = vad_mask(x, sr)
    frame_n = max(1, sr * 20 // 1000)
    smask = np.repeat(fmask, frame_n)[:n]
    xm = x[: len(smask)]
    speech = xm[smask]
    noise = xm[~smask]
    p_speech = float(np.mean(speech.astype(np.float64) ** 2)) if len(speech) else 0.0
    p_noise = float(np.mean(noise.astype(np.float64) ** 2)) if len(noise) else 0.0
    if p_speech <= 0.0:
        snr = 0.0
    elif p_noise <= 1e-12:
        snr = 99.0
    else:
        snr = min(99.0, 10.0 * float(np.log10(p_speech / p_noise)))
    frame = max(1, sr // 50)
    rms = frame_rms(x, frame)
    floor = float(rms[rms > 0].min()) if np.any(rms > 0) else _FLOOR
    peak = float(np.max(np.abs(x)))
    dyn = 20.0 * float(np.log10(max(peak, _FLOOR) / max(floor, _FLOOR)))
    return (clip_ratio, dc, snr, dyn)


QUALITY_SCHEMA = T.StructType(
    [
        T.StructField("clipping_ratio", T.DoubleType()),
        T.StructField("dc_offset", T.DoubleType()),
        T.StructField("snr_est_db", T.DoubleType()),
        T.StructField("dynamic_range_db", T.DoubleType()),
    ]
)


@F.pandas_udf(QUALITY_SCHEMA)
def audio_quality(data: pd.Series, codec: pd.Series, sr_hz: pd.Series) -> pd.DataFrame:
    """Vectorized per-clip quality gate (fused decode->reduce->discard,
    same null surface as audio_vad)."""
    rows = []
    for b, c, sr in zip(data.to_numpy(), codec.to_numpy(), sr_hz.to_numpy()):
        s = _safe_sr(sr)
        x = decode(b, c) if (s is not None and c is not None) else None
        if x is None or len(x) == 0:
            rows.append((0.0, 0.0, 0.0, 0.0))
            continue
        rows.append(quality_stats(x, s))
    return pd.DataFrame(
        rows, columns=["clipping_ratio", "dc_offset", "snr_est_db", "dynamic_range_db"]
    )


@F.pandas_udf(T.ArrayType(T.FloatType()))
def audio_mfcc(data: pd.Series, codec: pd.Series, sr_hz: pd.Series) -> pd.Series:
    out = []
    for b, c, sr in zip(data.to_numpy(), codec.to_numpy(), sr_hz.to_numpy()):
        s = _safe_sr(sr)
        if b is None or c is None or s is None:
            out.append(None)
            continue
        out.append(mfcc_embedding(decode(b, c), s).tolist())
    return pd.Series(out)
