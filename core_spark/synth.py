"""Deterministic synthetic audio clip + transcript-correction generator.

Produces the target engine's input tables in the exact BASELINE.json
input_hint shape:

    clips:       clip_id:string, bytes:binary, sr_hz:int, dur_ms:int,
                 codec:string, transcript:string, ingest_ts:timestamp
    corrections: clip_id:string, corrected_transcript:string,
                 correction_ts:timestamp

Everything is a pure function of (seed, n) — no wall-clock, no RNG state
leakage — so tests, oracles, and the two-parallelism bench runs all see
byte-identical inputs. Per FIXTURES.md §A:

- clip_id prefix drawn Zipf(s=1.2) from 16 two-char codes => intentional
  hot-prefix skew (exercises salting / AQE skew handling).
- payload = A*sin(2*pi*f*t), A in [0.1, 1.0], f in [110, 880] Hz, encoded
  pcm16 or ulaw => decoded mean-square energy is analytically A^2/2.
- ingest_ts = base + i*step with bounded out-of-orderness plus a
  deterministic late-straggler subset beyond any reasonable watermark.
- corrections reference a deterministic ~10% subset; some arrive within
  the join tolerance, some beyond (must be dropped + counted).

Generation is chunked and can be parallelized via mapInPandas when large
scales are needed; at test scales a single pandas frame is fine.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .functions.audio import pcm16_encode, ulaw_encode

BASE_TS = datetime(2024, 3, 1, 0, 0, 0)
PREFIXES = [f"{a}{b}" for a in "abcd" for b in "wxyz"]  # 16 two-char codes

CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("sr_hz", T.IntegerType(), False),
        T.StructField("dur_ms", T.IntegerType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("transcript", T.StringType(), False),
        T.StructField("ingest_ts", T.TimestampType(), False),
    ]
)

CORRECTIONS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("corrected_transcript", T.StringType(), False),
        T.StructField("correction_ts", T.TimestampType(), False),
    ]
)

_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu".split()
)


def _zipf_prefix_indices(u: np.ndarray, s: float = 1.2) -> np.ndarray:
    """Map uniform [0,1) to Zipf(s) ranks over the 16 prefixes."""
    ranks = np.arange(1, len(PREFIXES) + 1, dtype=np.float64)
    p = ranks**-s
    p /= p.sum()
    cdf = np.cumsum(p)
    return np.searchsorted(cdf, u, side="right").clip(0, len(PREFIXES) - 1)


def _hash_uniform(i: np.ndarray, seed: int) -> np.ndarray:
    """Deterministic per-index uniform [0,1): a multiplicative hash of the
    global index. Unlike sequential RNG draws, this is chunk-independent —
    generating rows [lo,hi) on any executor yields exactly the rows the
    full-table generation would (required for distributed synth)."""
    with np.errstate(over="ignore"):
        h = (i.astype(np.uint64) + np.uint64(seed + 1)) * np.uint64(0x9E3779B97F4A7C15)
    return (h >> np.uint64(11)).astype(np.float64) / float(2**53)


def _meta_fields(
    i: np.ndarray,
    seed: int,
    step_ms: int,
    disorder_ms: int,
    late_every: int,
    late_by_ms: int,
    gap_every: int,
    gap_len: int,
) -> tuple[list[str], list[str], np.ndarray]:
    """(clip_id, transcript, ts_ms) for arbitrary global indices ``i`` —
    every field is a pure function of the index, so strided/chunked callers
    all see the same values the full-table generation would."""
    pref_idx = _zipf_prefix_indices(_hash_uniform(i, seed))
    jitter = (_hash_uniform(i, seed + 7) * disorder_ms).astype(np.int64)
    ts_ms = i * step_ms + jitter
    late_mask = (i % late_every) == (late_every - 1)
    ts_ms = np.where(late_mask, ts_ms + late_by_ms, ts_ms)
    in_gap = (i % gap_every) >= (gap_every - gap_len)
    ts_ms = np.where(in_gap, ts_ms + 3 * late_by_ms, ts_ms)
    clip_ids = [f"{PREFIXES[p]}-{k:08d}" for p, k in zip(pref_idx, i)]
    words = [
        " ".join(_VOCAB[(g * 7 + j) % len(_VOCAB)] for j in range(3 + g % 4))
        for g in i
    ]
    return clip_ids, words, ts_ms


def make_clips_pdf(
    n: int,
    seed: int = 42,
    step_ms: int = 200,
    disorder_ms: int = 5_000,
    late_every: int = 97,
    late_by_ms: int = 600_000,
    gap_every: int = 500,
    gap_len: int = 40,
    start: int = 0,
) -> pd.DataFrame:
    """Generate clips [start, start+n) as pandas. The global index i fully
    determines every field (hash-based jitter, no sequential RNG state), so
    any slice generated anywhere equals the same slice of the full table —
    distributed generation is embarrassingly parallel and byte-stable.

    ``gap_every/gap_len``: deterministic index ranges get their ingest_ts
    shifted far forward, carving silence gaps into each prefix's timeline —
    the session-window tests key off these (FIXTURES.md §A3).
    """
    i = np.arange(start, start + n)
    amps = 0.1 + (i % 10) * 0.1
    freqs = 110.0 + (i % 8) * 110.0
    srs = np.array([8000, 16000, 44100])[i % 3]
    durs = 200 + (i * 37) % 1801  # 200..2000 ms
    codecs = np.where(i % 2 == 0, "pcm16", "ulaw")
    clip_ids, words, ts_ms = _meta_fields(
        i, seed, step_ms, disorder_ms, late_every, late_by_ms, gap_every, gap_len
    )

    payloads: list[bytes] = []
    for k in range(n):
        t = np.arange(int(srs[k] * durs[k] / 1000.0)) / srs[k]
        x = amps[k] * np.sin(2 * np.pi * freqs[k] * t)
        payloads.append(pcm16_encode(x) if codecs[k] == "pcm16" else ulaw_encode(x))

    return pd.DataFrame(
        {
            "clip_id": clip_ids,
            "bytes": payloads,
            "sr_hz": srs.astype("int32"),
            "dur_ms": durs.astype("int32"),
            "codec": codecs,
            "transcript": words,
            "ingest_ts": [BASE_TS + timedelta(milliseconds=int(m)) for m in ts_ms],
        }
    )


def expected_energy(clip_index: int) -> float:
    """Analytical mean-square energy of clip i: A^2/2 for a pure sine."""
    a = 0.1 + (clip_index % 10) * 0.1
    return a * a / 2.0


def make_corrections_pdf(
    clips: pd.DataFrame,
    seed: int = 42,
    within_lag_ms: int = 30_000,
    beyond_lag_ms: int = 3_600_000,
) -> pd.DataFrame:
    """~10% of clips get a correction; every 3rd correction arrives beyond
    the join tolerance (must be dropped by the watermarked join and show
    up in the drop metric)."""
    sel = clips.iloc[::10].reset_index(drop=True)
    k = np.arange(len(sel))
    late = (k % 3) == 2
    lag = np.where(late, beyond_lag_ms, (k * 131) % within_lag_ms)
    return pd.DataFrame(
        {
            "clip_id": sel["clip_id"],
            "corrected_transcript": sel["transcript"] + "-corr",
            "correction_ts": [
                t + timedelta(milliseconds=int(m))
                for t, m in zip(sel["ingest_ts"], lag)
            ],
        }
    )


def make_corrections_pdf_range(
    lo: int,
    hi: int,
    seed: int = 42,
    within_lag_ms: int = 30_000,
    beyond_lag_ms: int = 3_600_000,
    step_ms: int = 200,
    disorder_ms: int = 5_000,
    late_every: int = 97,
    late_by_ms: int = 600_000,
    gap_every: int = 500,
    gap_len: int = 40,
) -> pd.DataFrame:
    """Corrections for clip indices in [lo, hi) WITHOUT generating payload
    bytes: every 10th clip gets one, every 3rd of those arrives beyond the
    join tolerance. Identical values to
    ``make_corrections_pdf(make_clips_pdf(n))`` (asserted in tests) but
    O(metadata) instead of O(audio bytes) — payloads never touch the driver."""
    i = np.arange(lo + (-lo % 10), hi, 10)
    clip_ids, words, ts_ms = _meta_fields(
        i, seed, step_ms, disorder_ms, late_every, late_by_ms, gap_every, gap_len
    )
    k = i // 10
    late = (k % 3) == 2
    lag = np.where(late, beyond_lag_ms, (k * 131) % within_lag_ms)
    return pd.DataFrame(
        {
            "clip_id": clip_ids,
            "corrected_transcript": [w + "-corr" for w in words],
            "correction_ts": [
                BASE_TS + timedelta(milliseconds=int(t + m))
                for t, m in zip(ts_ms, lag)
            ],
        }
    )


def clips_df(
    spark: SparkSession, n: int, seed: int = 42, n_chunks: int | None = None, **kw
) -> DataFrame:
    """Distributed clips frame: executors generate disjoint global-index
    chunks via the chunk-independent generator, so no payload bytes ship
    from the driver (createDataFrame of n pre-built rows serializes the
    whole table into one task — a ~73 MB task at n=2000 and a driver OOM
    at scale)."""
    if n_chunks is None:
        n_chunks = max(1, min(32, n // 250))

    def gen(it):
        for pdf in it:
            for cid in pdf["id"].tolist():
                lo, hi = cid * n // n_chunks, (cid + 1) * n // n_chunks
                if hi > lo:
                    yield make_clips_pdf(hi - lo, seed, start=lo, **kw)

    return spark.range(0, n_chunks, 1, numPartitions=n_chunks).mapInPandas(
        gen, schema=CLIPS_SCHEMA
    )


def write_clips_parquet(
    spark: SparkSession, path: str, n: int, seed: int = 42, n_files: int = 8
) -> None:
    """Materialize clips as a multi-file parquet dir (a stand-in for the
    Iceberg table locally; file-per-micro-batch also feeds readStream).

    Files are index (≈ time) slices, not random shuffles: a file stream
    replays them as micro-batches, and the watermark must advance with the
    files the way it would with real time-ordered ingest commits — random
    row-to-file placement would make every file span the whole range and
    the watermark drop almost everything after the first batch.

    Generation is distributed: file k's executor generates exactly global
    indices [k*n/n_files, (k+1)*n/n_files) via the chunk-independent
    generator, so no payload bytes ever pass through the driver.
    """
    import pandas as _pd

    def gen(it):
        for pdf in it:
            for fid in pdf["id"].tolist():
                lo = fid * n // n_files
                hi = (fid + 1) * n // n_files
                if hi > lo:
                    yield make_clips_pdf(hi - lo, seed, start=lo)

    (
        spark.range(0, n_files, 1, numPartitions=n_files)
        .mapInPandas(gen, schema=CLIPS_SCHEMA)
        .write.mode("overwrite")
        .parquet(path)
    )


# ------------------------------------------------------------------ oracle SQL


def clips_meta_sql(
    n: int,
    seed: int = 42,
    step_ms: int = 200,
    disorder_ms: int = 5_000,
    late_every: int = 97,
    late_by_ms: int = 600_000,
    gap_every: int = 500,
    gap_len: int = 40,
) -> str:
    """ANSI-SQL (DuckDB) reproduction of ``make_clips_pdf``'s metadata
    columns — bit-identical clip_id / sr_hz / dur_ms / codec / transcript /
    ingest_ts for indices [0, n), plus the raw ``i`` and ``ts_ms`` for
    derived feeds (corrections). Every field is the same pure function of
    the index the numpy generator computes: the multiplicative uint64 hash
    is HUGEINT arithmetic mod 2**64, the Zipf CDF constants are embedded at
    full float64 precision, and jitter truncation matches astype(int64).
    Lets the driver's DuckDB gate oracle-check streaming queries whose
    input is the synthetic clips table rather than a parquet view."""
    ranks = np.arange(1, len(PREFIXES) + 1, dtype=np.float64)
    p = ranks**-1.2
    p /= p.sum()
    cdf = np.cumsum(p)
    cdf_lits = ", ".join(repr(float(c)) for c in cdf)
    vocab = "[" + ", ".join(f"'{w}'" for w in _VOCAB) + "]"
    prefs = "[" + ", ".join(f"'{p}'" for p in PREFIXES) + "]"
    two64 = "18446744073709551616::HUGEINT"
    k64 = "11400714819323198485::HUGEINT"

    def uniform(col: str, add: int) -> str:
        return (
            f"(((({col} + {add})::HUGEINT * {k64}) % {two64}) // 2048)::DOUBLE"
            " / 9007199254740992.0"
        )

    return f"""
SELECT
  i,
  {prefs}[pidx + 1] || '-' || printf('%08d', i) AS clip_id,
  [8000, 16000, 44100][CAST(i % 3 AS INT) + 1] AS sr_hz,
  200 + (i * 37) % 1801 AS dur_ms,
  CASE WHEN i % 2 = 0 THEN 'pcm16' ELSE 'ulaw' END AS codec,
  array_to_string(
    list_transform(range(0, CAST(3 + i % 4 AS INT)),
                   j -> {vocab}[CAST((i * 7 + j) % 26 AS INT) + 1]), ' ') AS transcript,
  ts_ms,
  TIMESTAMP '2024-03-01 00:00:00' + ts_ms * INTERVAL 1 MILLISECOND AS ingest_ts
FROM (
  SELECT i, pidx,
    i * {step_ms} + jit
      + CASE WHEN i % {late_every} = {late_every - 1} THEN {late_by_ms} ELSE 0 END
      + CASE WHEN i % {gap_every} >= {gap_every - gap_len} THEN {3 * late_by_ms} ELSE 0 END
      AS ts_ms
  FROM (
    SELECT i,
      least(len(list_filter([{cdf_lits}], x -> x <= {uniform('i', seed + 1)})), {len(PREFIXES) - 1}) AS pidx,
      CAST(trunc(({uniform('i', seed + 8)}) * {disorder_ms}.0) AS BIGINT) AS jit
    FROM (SELECT i::BIGINT AS i FROM range(0, {n}) t(i))
  )
)
"""


def corrections_meta_sql(
    lo: int,
    hi: int,
    seed: int = 42,
    within_lag_ms: int = 30_000,
    beyond_lag_ms: int = 3_600_000,
) -> str:
    """SQL twin of ``make_corrections_pdf_range`` over ``clips_meta_sql``:
    every 10th clip gets a correction; every 3rd of those arrives beyond
    the join tolerance."""
    return f"""
SELECT
  clip_id,
  transcript || '-corr' AS corrected_transcript,
  TIMESTAMP '2024-03-01 00:00:00'
    + (ts_ms + CASE WHEN (i // 10) % 3 = 2 THEN {beyond_lag_ms}
               ELSE ((i // 10) * 131) % {within_lag_ms} END) * INTERVAL 1 MILLISECOND
    AS correction_ts
FROM ({clips_meta_sql(hi, seed)})
WHERE i % 10 = 0 AND i >= {lo}
"""
