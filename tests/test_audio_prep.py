"""Codec breadth (alaw/adpcm) + training-data audio prep operators:
segmentation, quality gate, transcript-rate consistency."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from core_spark import synth
from core_spark.functions import audio as au
from core_spark.functions import audio_dsp as adsp
from core_spark.operators import audio_prep as ap


def _sine(sr=16000, sec=1.0, f=440.0, a=0.6):
    t = np.arange(int(sr * sec)) / sr
    return (a * np.sin(2 * np.pi * f * t)).astype(np.float64)


# ------------------------------------------------------------------ codecs


@pytest.mark.parametrize(
    "enc,codec,min_snr",
    [
        (au.alaw_encode, "alaw", 30.0),
        (au.adpcm_encode, "adpcm", 25.0),
    ],
)
def test_codec_roundtrip_snr(enc, codec, min_snr):
    x = _sine()
    y = au.decode(enc(x), codec)
    assert au.snr_db(x, y) >= min_snr
    assert abs(len(y) - len(x)) <= 1  # adpcm nibble padding


def test_codec_registry_and_sample_count(spark):
    # the native decoded_samples expression counts what each decoder yields
    x = _sine(sec=0.25)
    rows, want = [], {}
    for codec, enc in [
        ("pcm16", au.pcm16_encode),
        ("ulaw", au.ulaw_encode),
        ("alaw", au.alaw_encode),
        ("adpcm", au.adpcm_encode),
    ]:
        b = enc(x)
        rows.append((codec, bytes(b)))
        want[codec] = len(au.decode(b, codec))
    df = spark.createDataFrame(rows, "codec string, bytes binary")
    got = df.select("codec", au.decoded_samples("bytes", "codec").alias("n"))
    assert dict(got.collect()) == want


def test_alaw_silence_and_fullscale():
    z = au.decode(au.alaw_encode(np.zeros(64)), "alaw")
    assert np.max(np.abs(z)) < 0.002
    f = au.decode(au.alaw_encode(np.ones(64)), "alaw")
    assert np.all(f > 0.9)


def test_mfcc_embedding_shape_and_determinism():
    x = _sine()
    m1 = adsp.mfcc_embedding(x, 16000)
    m2 = adsp.mfcc_embedding(x, 16000)
    assert m1.shape == (13,) and np.array_equal(m1, m2)
    # different pitch => different cepstrum
    other = adsp.mfcc_embedding(_sine(f=880.0), 16000)
    assert not np.allclose(m1, other, atol=1e-3)


# ------------------------------------------------------------ segmentation


@pytest.fixture(scope="module")
def gapped_clip_df(spark):
    """One clip: 0.4 s speech, 0.6 s silence, 0.4 s speech; plus one
    all-silent clip."""
    sr = 16000
    seg = _sine(sr=sr, sec=0.4)
    silence = np.zeros(int(0.6 * sr))
    x = np.concatenate([seg, silence, seg])
    pdf = pd.DataFrame(
        {
            "clip_id": ["aw-1", "aw-2"],
            "bytes": [au.pcm16_encode(x), au.pcm16_encode(np.zeros(sr))],
            "sr_hz": [sr, sr],
            "dur_ms": [1400, 1000],
            "codec": ["pcm16", "pcm16"],
            "transcript": ["alpha bravo", ""],
            "ingest_ts": pd.Timestamp("2024-03-01")
        }
    )
    return spark.createDataFrame(pdf, schema=synth.CLIPS_SCHEMA)


def test_segment_clips_splits_and_flags(spark, gapped_clip_df):
    out = ap.segment_clips(gapped_clip_df).toPandas()
    speech = out[out.clip_id == "aw-1"].sort_values("seg_idx")
    assert list(speech.seg_idx) == [0, 1]
    assert list(speech.child_id) == ["aw-1#s0", "aw-1#s1"]
    # each child ~400 ms (+pad), byte range consistent with dur
    for r in speech.itertuples():
        assert 300 <= r.dur_ms <= 600
        assert len(r.bytes) == 2 * ((r.end_ms - r.start_ms) * 16000 // 1000)
        assert r.codec == "pcm16"
    # silent clip -> single flagged child, no payload
    silent = out[out.clip_id == "aw-2"]
    assert list(silent.seg_idx) == [-1]
    assert silent.bytes.iloc[0] is None


def test_segment_children_decode_as_speech(spark, gapped_clip_df):
    out = ap.segment_clips(gapped_clip_df)
    kids = out.filter(F.col("seg_idx") >= 0).select(
        "child_id", "bytes", F.lit("pcm16").alias("codec"), "sr_hz"
    )
    v = kids.select(
        "child_id", adsp.audio_vad("bytes", "codec", "sr_hz").alias("v")
    ).toPandas()
    assert (v["v"].map(lambda d: d["speech_ratio"]) > 0.5).all()


def test_segment_clips_no_shuffle(spark, gapped_clip_df):
    plan = ap.segment_clips(gapped_clip_df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------------------------------ quality gate


def test_quality_gate_rejects_planted_defects(spark):
    sr = 16000
    good = _sine(sr=sr)
    clipped = np.clip(_sine(sr=sr) * 4.0, -1.0, 1.0)
    silent = np.zeros(sr)
    pdf = pd.DataFrame(
        {
            "clip_id": ["g", "c", "s"],
            "bytes": [au.pcm16_encode(v) for v in (good, clipped, silent)],
            "sr_hz": [sr] * 3,
            "dur_ms": [1000] * 3,
            "codec": ["pcm16"] * 3,
            "transcript": ["ok", "ok", "ok"],
            "ingest_ts": pd.Timestamp("2024-03-01"),
        }
    )
    df = spark.createDataFrame(pdf, schema=synth.CLIPS_SCHEMA)
    out = ap.quality_gate(df).toPandas().set_index("clip_id")
    assert bool(out.loc["g", "accept"])
    assert out.loc["c", "reject_reason"] == "clipping"
    assert out.loc["s", "reject_reason"] == "no_speech"


def test_transcript_rate_check_flags_mismatch(spark):
    sr = 16000
    x = _sine(sr=sr, sec=1.0)
    many_words = " ".join(["word"] * 30)  # 30 words in 1 s of speech
    pdf = pd.DataFrame(
        {
            "clip_id": ["ok", "fast", "silent"],
            "bytes": [au.pcm16_encode(x), au.pcm16_encode(x),
                      au.pcm16_encode(np.zeros(sr))],
            "sr_hz": [sr] * 3,
            "dur_ms": [1000] * 3,
            "codec": ["pcm16"] * 3,
            "transcript": ["three short words", many_words, "ghost words"],
            "ingest_ts": pd.Timestamp("2024-03-01"),
        }
    )
    df = spark.createDataFrame(pdf, schema=synth.CLIPS_SCHEMA)
    out = ap.transcript_rate_check(df).toPandas().set_index("clip_id")
    assert bool(out.loc["ok", "consistent"])
    assert out.loc["fast", "rate_flag"] == "rate_high"
    assert out.loc["silent", "rate_flag"] == "no_speech"


def test_registry_queries_run(spark):
    from core_spark import registry

    for k in ("audio_segment_clips", "audio_quality_gate", "audio_transcript_rate"):
        df = registry.QUERIES[k](spark, "/root/testdata/sf0.001")
        assert df.count() > 0


# ------------------------------------------------------------------- cmvn


def test_cmvn_stats_and_apply(spark):
    """Corpus CMVN over MFCC features: after apply, every dimension has
    mean ~ 0 and population std ~ 1 across the corpus."""
    clips = synth.clips_df(spark, 60)
    feats = clips.select(
        "clip_id", adsp.audio_mfcc("bytes", "codec", "sr_hz").alias("mfcc")
    )
    stats = ap.cmvn_stats(feats, "mfcc")
    sp = stats.toPandas()
    assert (sp["dim"].to_numpy() == np.arange(len(sp))).all()
    assert (sp["cnt"] == 60).all()

    out = ap.apply_cmvn(feats, stats, "mfcc", "cmvn")
    arr = np.stack(out.toPandas()["cmvn"].to_numpy())
    np.testing.assert_allclose(arr.mean(axis=0), 0.0, atol=1e-7)
    np.testing.assert_allclose(arr.std(axis=0), 1.0, atol=1e-6)


def test_cmvn_exact_matches_float_path(spark):
    """exact_decimals scaled-int stats agree with the float path to the
    rounding precision."""
    clips = synth.clips_df(spark, 40)
    feats = clips.select(
        "clip_id", adsp.audio_mfcc("bytes", "codec", "sr_hz").alias("mfcc")
    )
    f1 = ap.cmvn_stats(feats, "mfcc").toPandas().set_index("dim")
    f2 = (
        ap.cmvn_stats(feats, "mfcc", exact_decimals=6)
        .toPandas()
        .set_index("dim")
    )
    np.testing.assert_allclose(f1["mean"], f2["mean"], atol=1e-5)
    np.testing.assert_allclose(f1["std"], f2["std"], atol=1e-4)
