"""Audio decode layer: the BASELINE.json per-row invariants.

- decoded PCM matches the generator's float signal with SNR >= 30 dB
- transcripts survive the Spark round-trip byte-identical
- analytical energy A^2/2 matches the vectorized UDF within codec error
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from core_spark.functions import audio
from core_spark.synth import clips_df, expected_energy, make_clips_pdf

N = 120


def _signal(i: int, sr: int, dur_ms: int) -> np.ndarray:
    a = 0.1 + (i % 10) * 0.1
    f = 110.0 + (i % 8) * 110.0
    t = np.arange(int(sr * dur_ms / 1000.0)) / sr
    return a * np.sin(2 * np.pi * f * t)


def test_codec_roundtrip_snr_numpy():
    x = _signal(5, 16000, 500)
    for enc, dec in [
        (audio.pcm16_encode, audio.pcm16_decode),
        (audio.ulaw_encode, audio.ulaw_decode),
    ]:
        y = dec(enc(x))
        assert audio.snr_db(x, y) >= 30.0
        assert len(y) == len(x)


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
    """The zero-copy mapInArrow extractor must produce the same features as
    the pandas_udf column API. The Arrow path works on int16 PCM (its
    energy accumulates EXACTLY in int64; the pandas path rounds in
    float32), so parity is to float32 rounding (~1e-7 relative), not
    bit-equality; dominant-frequency (argmax) must still agree exactly."""
    from core_spark.functions.audio import audio_features
    from core_spark.functions.audio_arrow import spectral_features_arrow

    df = clips_df(spark, 50)
    a = {
        r["clip_id"]: r
        for r in spectral_features_arrow(df).select(
            "clip_id", "energy", "dominant_freq_hz", "spectral_centroid_hz"
        ).collect()
    }
    b = {
        r["clip_id"]: r
        for r in df.select(
            "clip_id", audio_features("bytes", "codec", "sr_hz").alias("af")
        ).select("clip_id", "af.energy", "af.dominant_freq_hz", "af.spectral_centroid_hz").collect()
    }
    assert a.keys() == b.keys()
    for cid in a:
        # float32 dot over ~1e5 samples accumulates ~1e-5..1e-4 relative
        # error on the pandas side; the int16 path is exact
        assert abs(a[cid]["energy"] - b[cid]["energy"]) < 1e-4 * max(
            abs(b[cid]["energy"]), 1e-6
        ), cid
        assert a[cid]["dominant_freq_hz"] == b[cid]["dominant_freq_hz"], cid
        assert abs(
            a[cid]["spectral_centroid_hz"] - b[cid]["spectral_centroid_hz"]
        ) < 1e-5 * max(abs(b[cid]["spectral_centroid_hz"]), 1.0), cid


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
