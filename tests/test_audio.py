"""Audio decode layer: the BASELINE.json per-row invariants.

- decoded PCM matches the generator's float signal with SNR >= 30 dB
- transcripts survive the Spark round-trip byte-identical
- analytical energy A^2/2 matches the vectorized UDF within codec error
"""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from core_spark.functions import audio
from core_spark.synth import CLIPS_SCHEMA, clips_df, expected_energy, make_clips_pdf

N = 120
ENCODERS = {
    "pcm16": audio.pcm16_encode,
    "ulaw": audio.ulaw_encode,
    "alaw": audio.alaw_encode,
    "adpcm": audio.adpcm_encode,
}


def _signal(i: int, sr: int, dur_ms: int) -> np.ndarray:
    a = 0.1 + (i % 10) * 0.1
    f = 110.0 + (i % 8) * 110.0
    t = np.arange(int(sr * dur_ms / 1000.0)) / sr
    return a * np.sin(2 * np.pi * f * t)


def _four_codec_df(spark, n: int = 12):
    """make_clips_pdf rows re-encoded so the codecs cycle through all four
    (synth itself writes only pcm16 and ulaw)."""
    pdf = make_clips_pdf(n)
    names = list(ENCODERS)
    codecs = [names[i % 4] for i in range(n)]
    pdf["codec"] = codecs
    pdf["bytes"] = [
        ENCODERS[c](_signal(i, int(sr), int(d)))
        for i, (c, sr, d) in enumerate(zip(codecs, pdf["sr_hz"], pdf["dur_ms"]))
    ]
    return spark.createDataFrame(pdf, CLIPS_SCHEMA)


def test_codec_roundtrip_snr_numpy():
    x = _signal(5, 16000, 500)
    for codec in ("pcm16", "ulaw"):
        y = audio.decode(ENCODERS[codec](x), codec)
        assert audio.snr_db(x, y) >= 30.0
        assert len(y) == len(x)


def test_every_codec_reduces_the_same_in_both_passes():
    """For every codec, the Arrow pass's kernel (_decode_view_i16 then
    _spectral_one_i16) gives the same energy and peak bits as the
    clip_energy/clip_peak UDF bodies, and the float decode is the int16
    decode over the one full scale 32767."""
    from core_spark.functions.audio import _spectral_one_i16
    from core_spark.functions.audio_arrow import _decode_view_i16

    t = np.arange(8001) / 8000.0
    x = 0.7 * np.sin(2 * np.pi * 440.0 * t)
    for codec, enc in ENCODERS.items():
        b = enc(x)
        pcm = _decode_view_i16(np.frombuffer(b, dtype=np.uint8), codec)
        assert pcm.dtype == np.int16, codec
        feats = _spectral_one_i16(pcm, 8000)
        one = (pd.Series([b]), pd.Series([codec]))
        assert feats[0] == audio.clip_energy.func(*one)[0], codec
        assert feats[1] == audio.clip_peak.func(*one)[0], codec
        assert np.array_equal(audio.decode(b, codec), pcm.astype(np.float32) / 32767.0), codec


def test_spark_decode_invariants(spark):
    df = clips_df(spark, N)
    rows = (
        df.select(
            "clip_id",
            "sr_hz",
            "dur_ms",
            "codec",
            "transcript",
            audio.decode_pcm("bytes", "codec").alias("pcm"),
            audio.clip_energy("bytes", "codec").alias("energy"),
            audio.decoded_samples("bytes", "codec").alias("n_samples"),
        )
        .orderBy("clip_id")
        .collect()
    )
    assert len(rows) == N
    pdf = make_clips_pdf(N)
    by_id = {r["clip_id"]: r for r in rows}
    for i, src in pdf.iterrows():
        r = by_id[src["clip_id"]]
        x = _signal(i, int(src["sr_hz"]), int(src["dur_ms"]))
        decoded = np.array(r["pcm"], dtype=np.float32)
        # per-row invariant 1: SNR >= 30 dB vs generator PCM
        assert audio.snr_db(x, decoded) >= 30.0, r["clip_id"]
        # per-row invariant 2: transcript equality
        assert r["transcript"] == src["transcript"]
        # duration consistency
        assert r["n_samples"] == int(src["sr_hz"] * src["dur_ms"] / 1000.0)
        # analytical energy A^2/2 (ulaw gets looser tolerance)
        tol = 0.002 if src["codec"] == "pcm16" else 0.01
        assert abs(r["energy"] - expected_energy(i)) < tol


def test_media_probe_stub_shape(spark):
    df = clips_df(spark, 8)
    out = df.select("clip_id", audio.probe_media("bytes").alias("m")).select(
        "clip_id", "m.width", "m.height", "m.n_frames"
    )
    rows = out.collect()
    assert len(rows) == 8
    assert all(r["width"] >= 16 and r["n_frames"] >= 1 for r in rows)


def test_energy_is_vectorized_not_per_row(spark):
    # the UDF must be a pandas (Arrow) UDF, not a row UDF
    assert audio.clip_energy.evalType in (200, 210, 211)  # SQL_SCALAR_PANDAS variants


def test_spectral_features_match_generator(spark):
    """dominant_freq_hz must equal the synth sine's frequency within one
    512-point FFT bin; energy must equal A^2/2 (audio_features UDF path)."""
    from core_spark.functions.audio import audio_features

    df = clips_df(spark, 60)
    rows = (
        df.select("clip_id", "sr_hz", audio_features("bytes", "codec", "sr_hz").alias("af"))
        .select("clip_id", "sr_hz", "af.energy", "af.dominant_freq_hz", "af.zcr")
        .collect()
    )
    pdf = make_clips_pdf(60)
    by_id = {r["clip_id"]: r for r in rows}
    for i, src in pdf.iterrows():
        r = by_id[src["clip_id"]]
        f_true = 110.0 + (i % 8) * 110.0
        bin_hz = int(src["sr_hz"]) / 512.0
        assert abs(r["dominant_freq_hz"] - f_true) <= bin_hz, (i, r)
        tol = 0.002 if src["codec"] == "pcm16" else 0.01
        assert abs(r["energy"] - expected_energy(i)) < tol
        # zero-crossing rate of a sine ~= 2f/sr
        assert abs(r["zcr"] - 2.0 * f_true / int(src["sr_hz"])) < 0.01


def test_arrow_spectral_path_equals_pandas_udf_path(spark):
    """The zero-copy mapInArrow extractor and the audio_features pandas UDF
    run the same int16 decode and the same kernel, so their features are
    bit-equal for every codec; audio_features' eight features equal the
    kernel run here on the same payloads."""
    from core_spark.functions.audio import _spectral_one_i16, audio_features
    from core_spark.functions.audio_arrow import FEATURE_FIELDS, spectral_features_arrow

    df = _four_codec_df(spark)
    names = [n for n, _ in FEATURE_FIELDS]
    a = {r["clip_id"]: r for r in spectral_features_arrow(df).select("clip_id", *names).collect()}
    b = {
        r["clip_id"]: r
        for r in df.select(
            "clip_id", "bytes", "codec", "sr_hz",
            audio_features("bytes", "codec", "sr_hz").alias("af"),
        ).collect()
    }
    assert a.keys() == b.keys() and len(a) == 12
    assert {r["codec"] for r in b.values()} == set(ENCODERS)
    for cid, r in b.items():
        af = tuple(r["af"])
        assert tuple(a[cid][n] for n in names) == af[: len(names)], cid
        pcm = audio._decode_view_i16(np.frombuffer(r["bytes"], np.uint8), r["codec"])
        assert af == _spectral_one_i16(pcm, r["sr_hz"]), cid


def test_four_codecs_through_both_feature_passes(spark):
    """Both clip feature passes decode every codec, give the same per-clip
    energy bits, and feed tumbling_energy without failing."""
    from core_spark.streaming import windows as sw

    df = _four_codec_df(spark)
    spectral = sw.clip_features_spectral(df)
    energy = sw.clip_features(df)
    e1 = dict(spectral.select("clip_id", "energy").collect())
    e2 = dict(energy.select("clip_id", "energy").collect())
    assert e1 == e2 and len(e1) == 12
    w1 = sw.tumbling_energy(spectral, 60).orderBy("window_start", "prefix").collect()
    w2 = sw.tumbling_energy(energy, 60).orderBy("window_start", "prefix").collect()
    assert [(r["window_start"], r["prefix"], r["n_clips"]) for r in w1] == [
        (r["window_start"], r["prefix"], r["n_clips"]) for r in w2
    ]
    assert sum(r["n_clips"] for r in w1) == 12
    for r, s in zip(w1, w2):
        assert abs(r["avg_energy"] - s["avg_energy"]) <= 1e-12 * s["avg_energy"]


def test_odd_length_pcm16_payloads_decode_whole_samples(spark):
    """A pcm16 payload with a trailing odd byte decodes floor(n/2) samples
    in every decode path, as decoded_samples counts them; the Arrow pass
    returns one row per payload."""
    from core_spark.functions.audio_arrow import _decode_view_i16, spectral_features_arrow

    payloads = {"null": None, "odd": bytes(range(1, 8)), "even": bytes(range(1, 9))}
    df = spark.createDataFrame(
        [(k, b, 8000, 1, "pcm16", datetime(2024, 1, 1)) for k, b in payloads.items()],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, ingest_ts timestamp",
    )
    got = {
        r["clip_id"]: (r["n"], r["m"], r["e"])
        for r in df.select(
            "clip_id",
            audio.decoded_samples("bytes", "codec").alias("n"),
            F.size(audio.decode_pcm("bytes", "codec")).alias("m"),
            audio.clip_energy("bytes", "codec").alias("e"),
        ).collect()
    }
    for k, b in payloads.items():
        view = np.frombuffer(b or b"", dtype=np.uint8)
        want = len(_decode_view_i16(view, "pcm16"))
        assert want == len(view) // 2
        assert got[k][:2] == (want, want), k
    assert got["odd"][2] > 0 and got["null"][2] == 0.0
    rows = spectral_features_arrow(df).collect()
    assert sorted(r["clip_id"] for r in rows) == sorted(payloads)


def test_corrections_range_matches_pdf_path():
    """The payload-free corrections generator must be byte-identical to the
    original clips-pdf-derived one (it is what the distributed / large-n
    paths use so audio bytes never ship through the driver)."""
    from core_spark.synth import make_corrections_pdf, make_corrections_pdf_range

    full = make_corrections_pdf(make_clips_pdf(500)).reset_index(drop=True)
    fast = make_corrections_pdf_range(0, 500).reset_index(drop=True)
    assert full.equals(fast)
    # a non-aligned sub-range [101, 347) covers clip indices 110..340 step 10,
    # i.e. rows 11..34 of the full corrections frame
    part = make_corrections_pdf_range(101, 347).reset_index(drop=True)
    assert part.equals(full[11:35].reset_index(drop=True))


def test_null_payload_degrades_to_empty_clip(spark):
    """A null bytes payload (failed ingest / outer-join product) must flow
    through every feature UDF as an empty clip — zero energy/peak/samples,
    zero-length PCM — never a worker TypeError."""
    x = audio.pcm16_encode(_signal(0, 8000, 20))
    df = spark.createDataFrame(
        [("a", bytes(x), "pcm16"), ("b", None, "pcm16"), ("c", None, "ulaw")],
        "clip_id string, bytes binary, codec string",
    )
    rows = {
        r["clip_id"]: r
        for r in df.select(
            "clip_id",
            audio.clip_energy("bytes", "codec").alias("e"),
            audio.clip_peak("bytes", "codec").alias("p"),
            audio.decoded_samples("bytes", "codec").alias("n"),
            F.size(audio.decode_pcm("bytes", "codec")).alias("m"),
        ).collect()
    }
    assert rows["a"]["n"] == 160 and rows["a"]["e"] > 0
    for cid in ("b", "c"):
        assert rows[cid]["e"] == 0.0
        assert rows[cid]["p"] == 0.0
        assert rows[cid]["n"] == 0
        assert rows[cid]["m"] == 0


def test_decoded_samples_is_a_native_expression(spark):
    """decoded_samples maps the encoded length to a sample count without a
    Python UDF; NULL bytes give 0, an unknown or NULL codec raises."""
    import io
    from contextlib import redirect_stdout

    import pytest

    df = spark.createDataFrame(
        [("a", b"\x01\x02\x03", "pcm16"), ("b", None, "adpcm"), ("c", b"\x01", "ulaw")],
        "clip_id string, bytes binary, codec string",
    )
    n = audio.decoded_samples("bytes", "codec")
    assert dict(df.select("clip_id", n).collect()) == {"a": 1, "b": 0, "c": 1}
    assert df.select(n).schema[0].dataType.simpleString() == "int"
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.select(n).explain()
    assert "ArrowEvalPython" not in buf.getvalue(), buf.getvalue()
    for codec in ("flac", None):
        bad = spark.createDataFrame([(b"\x00\x00", codec)], "bytes binary, codec string")
        with pytest.raises(Exception, match="unknown codec"):
            bad.select(audio.decoded_samples("bytes", "codec")).collect()
