"""Training-data audio preparation operators.

The pieces a speech-corpus pipeline runs between ingest and training that
the reference (a process-historian SDK) has no analog for — first-class
here because the engine's target table is audio clip + transcript pairs
(BASELINE input_hint):

- :func:`segment_clips` — VAD-driven chunking: explode each clip into
  per-utterance child clips (sliced, re-encoded payloads with lineage).
- :func:`quality_gate` — decode-based accept/reject columns combining the
  clipping/SNR/VAD metrics (functions/audio_dsp.audio_quality, audio_vad).
- :func:`transcript_rate_check` — the text x audio consistency gate:
  speaking rate (transcript tokens per second of *speech*) outside
  physiologic bounds flags a clip/transcript mismatch.

All operators are mapInPandas / pandas_udf over Arrow batches (no per-row
Python), preserve the input partitioning (no shuffle), and degrade
malformed rows to flagged/null rows rather than failing the stage.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.audio import decode, pcm16_encode
from ..functions.audio_dsp import _safe_sr, audio_quality, audio_vad, vad_segments
from ..functions.text import token_count

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("seg_idx", T.IntegerType(), False),
        T.StructField("child_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("start_ms", T.IntegerType(), True),
        T.StructField("end_ms", T.IntegerType(), True),
        T.StructField("ingest_ts", T.TimestampType(), True),
    ]
)


def segment_clips(
    df: DataFrame,
    min_seg_ms: int = 100,
    pad_ms: int = 50,
    max_children: int = 64,
) -> DataFrame:
    """Explode clips into VAD utterance children (clip_id#s<i>).

    Chunking for training: long-form audio becomes per-utterance rows with
    payloads sliced at padded VAD boundaries and re-encoded pcm16. Children
    keep (clip_id, seg_idx, start/end offsets, ingest_ts) lineage so any
    child is traceable to its source byte range. Clips with no detected
    speech emit ONE flagged child (seg_idx = -1, null payload) — silent
    drops would make corpus accounting impossible downstream.

    Plan shape: one mapInPandas over the scan (narrow, no shuffle); output
    rows ~ segments per clip, bounded by ``max_children`` per clip (a
    pathological never-silent hour of audio cannot blow one task's memory).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                sr = _safe_sr(r.sr_hz)
                x = (
                    decode(r.bytes, r.codec)
                    if (sr is not None and r.codec is not None)
                    else np.zeros(0, dtype=np.float32)
                )
                segs = vad_segments(x, sr) if len(x) else []
                segs = [
                    (s, e) for s, e in segs if e - s >= min_seg_ms
                ][:max_children]
                if not segs:
                    rows.append(
                        (r.clip_id, -1, f"{r.clip_id}#s-1", None, r.sr_hz, 0,
                         "pcm16", None, None, r.ingest_ts)
                    )
                    continue
                n_ms = len(x) * 1000 // sr
                for k, (s, e) in enumerate(segs):
                    s_p, e_p = max(0, s - pad_ms), min(n_ms, e + pad_ms)
                    lo, hi = s_p * sr // 1000, e_p * sr // 1000
                    rows.append(
                        (r.clip_id, k, f"{r.clip_id}#s{k}",
                         pcm16_encode(x[lo:hi]), r.sr_hz, int(e_p - s_p),
                         "pcm16", int(s_p), int(e_p), r.ingest_ts)
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in SEGMENT_SCHEMA.fields])

    cols = ["clip_id", "bytes", "sr_hz", "codec", "ingest_ts"]
    return df.select(*cols).mapInPandas(gen, schema=SEGMENT_SCHEMA)


def quality_gate(
    df: DataFrame,
    max_clipping: float = 0.01,
    min_snr_db: float = 10.0,
    min_speech_ratio: float = 0.1,
) -> DataFrame:
    """Accept/reject columns for the audio quality gate: one fused decode
    pass per metric family (audio_quality, audio_vad), thresholds as plain
    JVM-side comparisons. Returns the input plus metric + ``accept`` +
    ``reject_reason`` columns; filtering is the caller's choice so the
    reject stream can be audited (never silently dropped)."""
    out = df.withColumn(
        "q", audio_quality("bytes", "codec", "sr_hz")
    ).withColumn("v", audio_vad("bytes", "codec", "sr_hz"))
    # no_speech outranks low_snr: an SNR estimate over a silent clip is
    # noise-vs-noise, so the speech check must claim those rows first.
    reason = (
        F.when(F.col("q.clipping_ratio") > max_clipping, F.lit("clipping"))
        .when(F.col("v.speech_ratio") < min_speech_ratio, F.lit("no_speech"))
        .when(F.col("q.snr_est_db") < min_snr_db, F.lit("low_snr"))
    )
    return (
        out.withColumn("reject_reason", reason)
        .withColumn("accept", F.col("reject_reason").isNull())
        .select(
            *df.columns,
            F.col("q.clipping_ratio").alias("clipping_ratio"),
            F.col("q.snr_est_db").alias("snr_est_db"),
            F.col("v.speech_ratio").alias("speech_ratio"),
            "accept",
            "reject_reason",
        )
    )


def transcript_rate_check(
    df: DataFrame,
    min_wps: float = 0.3,
    max_wps: float = 8.0,
) -> DataFrame:
    """Text x audio consistency: tokens-per-second of detected speech.

    A transcript pasted onto the wrong clip (or a truncated payload) shows
    up as a speaking rate far outside human bounds. Uses speech duration
    (VAD) when available, total duration as fallback; clips with zero
    speech and a non-empty transcript are flagged outright."""
    out = df.withColumn("v", audio_vad("bytes", "codec", "sr_hz")).withColumn(
        "n_tokens", token_count(F.col("transcript"))
    )
    denom_ms = F.when(F.col("v.speech_ms") > 0, F.col("v.speech_ms")).otherwise(
        F.col("dur_ms")
    )
    wps = F.col("n_tokens") * 1000.0 / denom_ms
    flag = (
        F.when((F.col("v.speech_ms") == 0) & (F.col("n_tokens") > 0), F.lit("no_speech"))
        .when(wps < min_wps, F.lit("rate_low"))
        .when(wps > max_wps, F.lit("rate_high"))
    )
    return out.select(
        "clip_id",
        "dur_ms",
        "n_tokens",
        F.col("v.speech_ms").alias("speech_ms"),
        F.round(wps, 4).alias("words_per_sec"),
        flag.alias("rate_flag"),
        flag.isNull().alias("consistent"),
    )


def cmvn_stats(
    df: DataFrame, col: str = "embedding", exact_decimals: int | None = None
) -> DataFrame:
    """Per-dimension corpus mean / stddev of an ``array<float/double>``
    feature column — the stats half of CMVN (cepstral mean-variance
    normalization), the standard feature-normalization step ASR training
    applies to MFCC/log-mel features. Analog of the reference's
    Normalization components (normalization/normalization_zscore.py:49-77)
    lifted from scalar columns to feature vectors.

    ``exact_decimals`` switches the sums to scaled-integer arithmetic (the
    ``summary`` verb's convention): mean and population stddev become pure
    integer sums folded through one fixed float expression, so the result
    is order-independent and bit-identical to a SQL oracle evaluating the
    same formula.

    Scale: ``posexplode`` then groupBy(dim) looks like an n x d shuffle
    but is NOT — the hash aggregate partial-combines map-side, so each
    task ships exactly d rows of (sum, sumsq, count) and the shuffle is
    d x tasks rows total. No driver collect here; population stddev
    (ddof=0) like the reference's z-score."""
    ex = df.select(F.posexplode(F.col(col)).alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    if exact_decimals is None:
        return (
            ex.groupBy("dim")
            .agg(
                F.count("x").alias("cnt"),
                F.avg("x").alias("mean"),
                F.stddev_pop("x").alias("std"),
            )
            .orderBy("dim")
        )
    scale = float(10**exact_decimals)
    u = F.round(F.col("x") * scale).cast("long")
    g = ex.select("dim", u.alias("u")).groupBy("dim").agg(
        F.count("u").alias("cnt"),
        F.sum("u").alias("su"),
        F.sum(F.col("u") * F.col("u")).alias("sq"),
    )
    mean = F.col("su").cast("double") / scale / F.col("cnt")
    ex2 = F.col("sq").cast("double") / (scale * scale) / F.col("cnt")
    return g.select(
        "dim",
        "cnt",
        mean.alias("mean"),
        F.sqrt(ex2 - mean * mean).alias("std"),
    ).orderBy("dim")


def apply_cmvn(
    df: DataFrame,
    stats: DataFrame,
    col: str = "embedding",
    out_col: str = "cmvn",
    eps: float = 1e-8,
) -> DataFrame:
    """Apply CMVN: ``(x_i - mean_i) / max(std_i, eps)`` per dimension.

    ``stats`` is the (dim, mean, std) frame from :func:`cmvn_stats` — d
    rows (feature width, e.g. 24 for MFCC), collected once and folded in
    as literal arrays so the normalization is a pure JVM ``transform``
    expression over the array column: no join, no shuffle, no Python in
    the hot path."""
    rows = sorted(stats.select("dim", "mean", "std").collect())
    means = F.array(*[F.lit(float(r[1])) for r in rows])
    stds = F.array(*[F.lit(max(float(r[2]), eps)) for r in rows])
    return df.withColumn("_m", means).withColumn("_s", stds).withColumn(
        out_col,
        F.expr(
            f"transform({col}, (x, i) ->"
            " (CAST(x AS DOUBLE) - _m[i]) / _s[i])"
        ),
    ).drop("_m", "_s")
