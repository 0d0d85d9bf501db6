"""Audio DSP kernel tests: resampling SNR, VAD segment recovery, log-mel
embedding sanity, fingerprint invariance (re-encode / shift / gain), and
the Spark-side fingerprint near-dup operator on planted duplicates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from core_spark.functions import audio_dsp as dsp
from core_spark.functions.audio import pcm16_encode, ulaw_encode, snr_db
from core_spark.operators import audio_match
from core_spark import synth


def sine(freq, sr, ms, amp=0.5):
    t = np.arange(int(sr * ms / 1000.0)) / sr
    return amp * np.sin(2 * np.pi * freq * t)


def rich_clip(seed, sr=16000, ms=1500):
    """Multi-tone + noise clip — enough spectral structure to fingerprint
    (the synth sines are single-tone, too degenerate for constellations)."""
    rng = np.random.default_rng(seed)
    t = np.arange(int(sr * ms / 1000.0)) / sr
    x = np.zeros_like(t)
    for _ in range(6):
        f = rng.uniform(200, 3500)
        a = rng.uniform(0.05, 0.25)
        lo, hi = sorted(rng.uniform(0, ms / 1000.0, size=2))
        seg = (t >= lo) & (t < hi)
        x[seg] += a * np.sin(2 * np.pi * f * t[seg])
    x += 0.01 * rng.standard_normal(len(t))
    return np.clip(x, -1, 1)


# ------------------------------------------------------------- resampling

def test_resample_downsample_snr():
    x = sine(440, 16000, 1000)
    y = dsp.resample_sinc(x, 16000, 8000)
    ref = sine(440, 8000, 1000)
    n = min(len(y), len(ref))
    # ignore filter edges (taps/2 samples each side)
    assert snr_db(ref[32 : n - 32], y[32 : n - 32]) >= 30.0


def test_resample_upsample_snr():
    x = sine(440, 8000, 1000)
    y = dsp.resample_sinc(x, 8000, 16000)
    ref = sine(440, 16000, 1000)
    n = min(len(y), len(ref))
    assert snr_db(ref[32 : n - 32], y[32 : n - 32]) >= 30.0


def test_resample_preserves_energy_and_length():
    x = sine(220, 44100, 500)
    y = dsp.resample_sinc(x, 44100, 16000)
    assert abs(len(y) - int(round(len(x) * 16000 / 44100))) <= 1
    assert np.mean(y**2) == pytest.approx(np.mean(x**2), rel=0.05)


def test_resample_identity_and_empty():
    x = sine(440, 8000, 100)
    assert np.array_equal(dsp.resample_sinc(x, 8000, 8000), x.astype(np.float32))
    assert len(dsp.resample_sinc(np.zeros(0), 8000, 16000)) == 0


def test_resample_antialias():
    # 3 kHz tone is above the 8 kHz output Nyquist->must be attenuated, not folded
    x = sine(3000, 16000, 1000)
    y = dsp.resample_sinc(x, 16000, 4000)
    assert np.sqrt(np.mean(y**2)) < 0.05 * np.sqrt(np.mean(x**2))


# -------------------------------------------------------------------- VAD

def _gap_signal(sr=8000):
    # 300ms tone | 400ms silence | 500ms tone | 300ms silence
    return np.concatenate(
        [sine(440, sr, 300), np.zeros(int(sr * 0.4)), sine(300, sr, 500),
         np.zeros(int(sr * 0.3))]
    )


def test_vad_segments_recovered():
    x = _gap_signal()
    segs = dsp.vad_segments(x, 8000, hangover=0)
    assert len(segs) == 2
    (s1, e1), (s2, e2) = segs
    assert s1 == 0 and abs(e1 - 300) <= 40
    assert abs(s2 - 700) <= 40 and abs(e2 - 1200) <= 40


def test_vad_hangover_merges_brief_dips():
    sr = 8000
    x = np.concatenate([sine(440, sr, 200), np.zeros(int(sr * 0.02)), sine(440, sr, 200)])
    assert len(dsp.vad_segments(x, sr, hangover=2)) == 1


def test_trim_silence():
    x = _gap_signal()
    trimmed, lead, trail = dsp.trim_silence(x, 8000)
    assert lead == 0 and abs(trail - 300) <= 40
    assert len(trimmed) <= len(x)
    # leading silence case
    y = np.concatenate([np.zeros(8000 // 2), sine(440, 8000, 500)])
    _, lead2, trail2 = dsp.trim_silence(y, 8000)
    assert abs(lead2 - 500) <= 40 and trail2 <= 40


def test_vad_empty_and_silent():
    assert dsp.vad_segments(np.zeros(0), 8000) == []
    assert dsp.vad_segments(np.zeros(4000), 8000) == []


# ---------------------------------------------------------------- log-mel

def test_logmel_orders_frequencies():
    lo = dsp.logmel_embedding(sine(220, 16000, 800), 16000)
    hi = dsp.logmel_embedding(sine(3000, 16000, 800), 16000)
    assert len(lo) == 24 and len(hi) == 24
    assert int(np.argmax(lo)) < int(np.argmax(hi))


def test_logmel_gain_shifts_but_shape_holds():
    a = dsp.logmel_embedding(sine(440, 16000, 800, amp=0.2), 16000)
    b = dsp.logmel_embedding(sine(440, 16000, 800, amp=0.8), 16000)
    # same spectral shape: cosine of mean-centered vectors ~ 1
    ac, bc = a - a.mean(), b - b.mean()
    cos = float(ac @ bc / (np.linalg.norm(ac) * np.linalg.norm(bc)))
    assert cos > 0.99


# ------------------------------------------------------------ fingerprint

def test_fingerprint_invariance_and_discrimination():
    x = rich_clip(1)
    fx = dict()
    for h, t in dsp.fingerprint(x, 16000):
        fx.setdefault(h, []).append(t)

    def best_aligned_matches(y):
        votes = {}
        for h, t in dsp.fingerprint(y, 16000):
            for ta in fx.get(h, []):
                votes[t - ta] = votes.get(t - ta, 0) + 1
        return max(votes.values()) if votes else 0

    assert len(fx) > 30
    # gain change: identical constellation
    assert best_aligned_matches(0.5 * x) >= 0.9 * best_aligned_matches(x)
    # mu-law re-encode round trip
    from core_spark.functions.audio import decode
    y = decode(ulaw_encode(x), "ulaw")
    assert best_aligned_matches(y) >= 0.6 * best_aligned_matches(x)
    # whole-hop time shift
    z = np.concatenate([np.zeros(512), x])[: len(x)]
    assert best_aligned_matches(z) >= 0.5 * best_aligned_matches(x)
    # unrelated clip: near-zero aligned votes
    w = rich_clip(2)
    assert best_aligned_matches(w) <= 0.1 * best_aligned_matches(x)


# ------------------------------------------------------------- Spark side

@pytest.fixture(scope="module")
def rich_clips_df(spark):
    rows = []
    for i in range(8):
        x = rich_clip(i)
        rows.append((f"rc-{i:04d}", pcm16_encode(x), 16000, 1500, "pcm16", "w", synth.BASE_TS))
    # planted duplicates of clip 0: mu-law re-encode and a 2-hop shift
    x0 = rich_clip(0)
    rows.append(("dup-ulaw", ulaw_encode(x0), 16000, 1500, "ulaw", "w", synth.BASE_TS))
    shifted = np.concatenate([np.zeros(512), x0])[: len(x0)]
    rows.append(("dup-shift", pcm16_encode(shifted), 16000, 1500, "pcm16", "w", synth.BASE_TS))
    pdf = pd.DataFrame(
        rows,
        columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript", "ingest_ts"],
    )
    return spark.createDataFrame(pdf, schema=synth.CLIPS_SCHEMA)


def test_fingerprint_pairs_finds_planted_dups(spark, rich_clips_df):
    pairs = audio_match.fingerprint_pairs(rich_clips_df, min_matches=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert ("dup-ulaw", "rc-0000") in found
    assert ("dup-shift", "rc-0000") in found
    # no cross-talk between unrelated rich clips
    unrelated = [p for p in found if not (("rc-0000" in p) or ("dup" in p[0] and "dup" in p[1]))]
    assert unrelated == []
    # the shifted dup's best offset is the planted 2-hop shift
    by_pair = {(r["id_a"], r["id_b"]): r for r in pairs}
    assert by_pair[("dup-shift", "rc-0000")]["dt_frames"] in (-2, 2)


def test_vad_udf_and_resample_udf(spark, rich_clips_df):
    out = rich_clips_df.select(
        "clip_id",
        dsp.audio_vad("bytes", "codec", "sr_hz").alias("v"),
        dsp.audio_resample_pcm16(
            "bytes", "codec", "sr_hz", F.lit(8000).cast("int")
        ).alias("rs"),
        dsp.audio_logmel("bytes", "codec", "sr_hz").alias("emb"),
    ).collect()
    for r in out:
        v = r["v"]
        assert 0.0 <= v["speech_ratio"] <= 1.0
        assert v["speech_ms"] <= 1500 + 40
        # resampled payload is half the samples (16k -> 8k), pcm16 bytes
        n_out = len(r["rs"]) // 2
        assert abs(n_out - 12000) <= 2
        assert len(r["emb"]) == 24


def test_vad_on_synth_clips(spark):
    # synth sines are 100% speech: ratio ~ 1, one segment, no trim
    df = synth.clips_df(spark, 30)
    out = df.select(dsp.audio_vad("bytes", "codec", "sr_hz").alias("v")).collect()
    for r in out:
        assert r["v"]["speech_ratio"] >= 0.9
        assert r["v"]["n_segments"] == 1
        assert r["v"]["lead_silence_ms"] == 0


def test_udfs_survive_null_and_invalid_rows(spark):
    # null payload / null sr / zero sr must degrade per-row, never kill the
    # Arrow batch (hardened-null contract of functions/audio.py)
    good = bytes(pcm16_encode(sine(440, 8000, 100)))
    rows = [
        ("a", good, 8000, 100, "pcm16", "w", synth.BASE_TS),
        ("b", None, 8000, 100, "pcm16", "w", synth.BASE_TS),
        ("c", good, None, 100, "pcm16", "w", synth.BASE_TS),
        ("d", b"", 0, 100, "pcm16", "w", synth.BASE_TS),
        ("e", good, 8000, 100, None, "w", synth.BASE_TS),  # null codec
    ]
    df = spark.createDataFrame(
        rows,
        schema="clip_id string, bytes binary, sr_hz int, dur_ms int, "
               "codec string, transcript string, ingest_ts timestamp",
    )
    out = df.select(
        "clip_id",
        dsp.audio_vad("bytes", "codec", "sr_hz").alias("v"),
        dsp.audio_logmel("bytes", "codec", "sr_hz").alias("emb"),
        dsp.audio_fingerprint("bytes", "codec", "sr_hz").alias("fp"),
        dsp.audio_resample_pcm16("bytes", "codec", "sr_hz",
                                 F.lit(16000).cast("int")).alias("rs"),
    ).collect()
    by_id = {r["clip_id"]: r for r in out}
    assert by_id["a"]["v"]["speech_ratio"] > 0.9 and by_id["a"]["rs"] is not None
    for bad in ("b", "c", "d", "e"):
        assert by_id[bad]["v"]["speech_ratio"] == 0.0
        assert by_id[bad]["v"]["n_segments"] == 0
    assert by_id["b"]["emb"] is None and by_id["b"]["fp"] is None
    assert by_id["b"]["rs"] is None and by_id["c"]["rs"] is None
    assert by_id["d"]["rs"] is None  # sr=0 is invalid even with bytes
    assert by_id["e"]["rs"] is None and by_id["e"]["emb"] is None
    assert by_id["e"]["fp"] is None  # null codec degrades, never raises


def test_speech_ratio_bounded_for_awkward_rates():
    # sr where frame size floors (999*20//1000 = 19 samples): nominal-ms
    # accounting would give ratio > 1; sample-accurate accounting cannot
    x = sine(440, 999, 1000, amp=0.5)
    segs = dsp.vad_segments(x, 999)
    speech = sum(e - s for s, e in segs)
    assert speech <= len(x) * 1000 // 999


def test_logmel_topk_neighbors_share_frequency(spark):
    # synth clip i is a pure sine at 110*(1 + i%8) Hz: a clip's nearest
    # log-mel neighbors must share its frequency class (the embedding is
    # dominated by the active mel band)
    from core_spark import registry

    out = registry.q_audio_logmel_topk(spark, "x").collect()
    assert len(out) > 0

    def freq_class(clip_id):
        return int(clip_id.split("-")[1]) % 8

    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        top = rows[0]
        assert freq_class(top["vec_id"]) == freq_class(q), (q, top)
