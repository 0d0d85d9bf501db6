"""Output checkers, computed apart from the program with DuckDB and numpy.

Each ``check_*`` returns a list of error strings; an empty list means the
program's output is correct.

Micro-batch semantics the clip checkers encode (Spark >= 3.4 structured
streaming, one stateful operator per input): input files are taken in mtime
order, ``files_per_trigger`` per batch, so row ``i``'s batch is
``file_index // files_per_trigger``. After batch k the eviction watermark is
``max(ingest_ts over batches <= k) - 30 s``. A row of batch k is dropped as
late when its event time (for the window aggregate: its window's end) is at
or before the eviction watermark of batch k-1, i.e. the watermark in force
for late events lags one batch; batches 0 and 1 drop nothing. After the last
data batch one batch without data runs at the final watermark, so a window is
emitted iff its end <= final watermark.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

WATERMARK_US = 30_000_000
WINDOW_US = 60_000_000
JOIN_TOLERANCE_US = 60_000_000

# Clip i carries A*sin(2*pi*f*t), t = k / sr for k < sr * dur_ms / 1000,
# with the parameters below, encoded pcm16 for even i and mu-law for odd i.
# The signal is a function of i alone, whatever the seed.
N_FFT = 512
HOP = 160

# Tolerances of a window's average against the average of its clips'
# expected features (clip_features_model). A window's relative error is at
# most that of its worst clip, and a clip's signal is a function of i alone,
# so test_oracles.test_feature_model_bounds_every_clip, which runs the
# program's per-clip feature kernel over every clip index a run can write,
# bounds every window of every seed. Largest relative errors it found: energy
# -1.11% (mu-law quantization, a non-integer number of periods), centroid
# +0.99% (mu-law noise above f), zero-crossing rate 0. Energy and centroid
# bounds are about twice that; the zero-crossing bound only absorbs rounding.
ENERGY_REL_TOL = 0.02
CENTROID_REL_TOL = 0.02
ZCR_REL_TOL = 1e-6


def clip_params(i: np.ndarray) -> dict[str, np.ndarray]:
    """Amplitude, frequency, sample rate and sample count of clips ``i``."""
    sr = np.array([8000, 16000, 44100])[i % 3]
    return {
        "amp": 0.1 + (i % 10) * 0.1,
        "freq": 110.0 + (i % 8) * 110.0,
        "sr": sr,
        "n": (sr * (200 + (i * 37) % 1801) / 1000.0).astype(np.int64),
    }


def clip_features_model(i: np.ndarray) -> pd.DataFrame:
    """Expected per-clip features of the clean sine, before encoding.

    energy is A^2/2. The spectral centroid is that of the frame-summed power
    spectrum (periodic Hann window, N_FFT points, HOP hop, DC bin left out):
    at 44.1 kHz a 110 Hz sine sits 1.3 bins above DC, where window leakage
    moves the centroid ~7% above f. The zero-crossing rate counts sign
    changes between consecutive samples, over the clip's sample count.

    Clips of one (f, sr) are prefixes of one sampled sine, so both are read
    off running sums over that sine, one per (f, sr).
    """
    p = clip_params(np.asarray(i, dtype=np.int64))
    assert (p["n"] >= N_FFT).all(), "a clip shorter than one frame would be zero-padded"
    hann = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(N_FFT) / N_FFT)
    cen = np.empty(len(p["n"]))
    zcr = np.empty(len(p["n"]))
    for f, sr in set(zip(p["freq"].tolist(), p["sr"].tolist())):
        sel = (p["freq"] == f) & (p["sr"] == sr)
        n = p["n"][sel]
        x = np.sin(2.0 * np.pi * f * np.arange(n.max()) / sr)
        neg = x < 0
        changes = np.concatenate([[0], np.cumsum(neg[1:] != neg[:-1])])  # within x[:m + 1]
        zcr[sel] = changes[n - 1] / n
        frames = np.lib.stride_tricks.sliding_window_view(x, N_FFT)[::HOP]
        power = np.abs(np.fft.rfft(frames * hann, axis=1)) ** 2
        power[:, 0] = 0.0
        bins = np.arange(power.shape[1]) * (sr / N_FFT)
        num, den = np.cumsum(power @ bins), np.cumsum(power.sum(axis=1))
        last = (n - N_FFT) // HOP  # the last frame that fits in a clip's n samples
        cen[sel] = num[last] / den[last]
    return pd.DataFrame({"i": i, "exp_energy": p["amp"] ** 2 / 2, "exp_centroid": cen, "exp_zcr": zcr})


def _con() -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={"threads": 2})


def _clips_sql(clips_dir: str, files_per_trigger: int) -> str:
    glob = os.path.join(clips_dir, "*.parquet")
    return f"""
SELECT clip_id, transcript, dur_ms, sr_hz,
       CAST(split_part(clip_id, '-', 2) AS BIGINT) AS i,
       substr(clip_id, 1, 2) AS prefix,
       epoch_us(ingest_ts) AS ts,
       CAST(regexp_extract(filename, 'part-(\\d+)', 1) AS INT) // {files_per_trigger} AS batch
FROM read_parquet('{glob}', filename = true)
"""


def _watermarks_sql() -> str:
    """Per batch: ``wm_late`` (late-event watermark in force for it) over the
    view ``c`` of clips with their batch."""
    return f"""
bmax AS (SELECT batch, max(ts) AS mx FROM c GROUP BY batch),
wm AS (SELECT batch,
         max(mx) OVER (ORDER BY batch ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - {WATERMARK_US} AS wm_after
       FROM bmax),
late AS (SELECT b.batch, coalesce(w.wm_after, 0) AS wm_late
         FROM bmax b LEFT JOIN wm w ON w.batch = b.batch - 2)
"""


def expected_windows(clips_dir: str, files_per_trigger: int, con=None) -> pd.DataFrame:
    """The tumbling job's rows: (window_start_us, prefix) -> n_clips,
    sum_dur_ms and the per-window means of the clips' expected energy,
    spectral centroid and zero-crossing rate (clip_features_model)."""
    con = con or _con()
    con.register("model", clip_features_model(
        con.sql(f"SELECT i FROM ({_clips_sql(clips_dir, files_per_trigger)}) ORDER BY i").df()["i"].to_numpy()))
    return con.sql(
        f"""
WITH c AS ({_clips_sql(clips_dir, files_per_trigger)}),
{_watermarks_sql()},
f AS (SELECT c.*, model.*, ts - ts % {WINDOW_US} AS ws
      FROM c JOIN late USING (batch) JOIN model USING (i)
      WHERE ts - ts % {WINDOW_US} + {WINDOW_US} > wm_late),
final AS (SELECT max(ts) - {WATERMARK_US} AS wm FROM c)
SELECT ws AS window_start_us, prefix,
       count(*) AS n_clips, sum(dur_ms) AS sum_dur_ms,
       avg(exp_energy) AS exp_energy, avg(exp_centroid) AS exp_centroid, avg(exp_zcr) AS exp_zcr
FROM f, final
WHERE ws + {WINDOW_US} <= final.wm
GROUP BY ws, prefix
"""
    ).df()


def _close(got: np.ndarray, want: np.ndarray, rel: float) -> np.ndarray:
    return np.abs(got - want) <= rel * np.abs(want)


def compare_windows(out: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """``out`` has the sink's columns with window_start as epoch us."""
    errors = []
    dups = out.groupby(["window_start_us", "prefix"]).size()
    if (dups > 1).any():
        errors.append(f"{int((dups > 1).sum())} (window_start, prefix) keys emitted more than once")
        out = out.drop_duplicates(["window_start_us", "prefix"])
    m = out.merge(exp, on=["window_start_us", "prefix"], how="outer", suffixes=("", "_exp"),
                  indicator=True)
    extra = m[m["_merge"] == "left_only"]
    missing = m[m["_merge"] == "right_only"]
    if len(extra):
        errors.append(f"{len(extra)} windows emitted that the oracle does not have, e.g. "
                      f"{extra[['window_start_us', 'prefix']].head(3).values.tolist()}")
    if len(missing):
        errors.append(f"{len(missing)} windows missing, e.g. "
                      f"{missing[['window_start_us', 'prefix']].head(3).values.tolist()}")
    b = m[m["_merge"] == "both"]
    for col in ("n_clips", "sum_dur_ms"):
        bad = b[b[col].astype("int64") != b[f"{col}_exp"].astype("int64")]
        if len(bad):
            errors.append(f"{col} differs in {len(bad)} windows, e.g. "
                          f"{bad[['window_start_us', 'prefix', col, col + '_exp']].head(3).values.tolist()}")
    for col, want, rel in (
        ("avg_energy", "exp_energy", ENERGY_REL_TOL),
        ("avg_centroid_hz", "exp_centroid", CENTROID_REL_TOL),
        ("avg_zcr", "exp_zcr", ZCR_REL_TOL),
    ):
        ok = _close(b[col].to_numpy(float), b[want].to_numpy(float), rel)
        if not ok.all():
            bad = b[~ok]
            errors.append(f"{col} off by more than {rel:.0%} in {len(bad)} windows, e.g. "
                          f"{bad[['window_start_us', 'prefix', col, want]].head(3).values.tolist()}")
    return errors


def read_table(table_dir: str, con=None) -> pd.DataFrame:
    """The MergeSink table's rows (partition column included)."""
    con = con or _con()
    glob = os.path.join(table_dir, "data", "*", "*.parquet")
    return con.sql(f"SELECT * FROM read_parquet('{glob}', hive_partitioning = true)").df()


def dropped_late(clips_dir: str, files_per_trigger: int, con=None) -> int:
    """Input rows the tumbling job must drop as late (see expected_windows)."""
    con = con or _con()
    return con.sql(
        f"""
WITH c AS ({_clips_sql(clips_dir, files_per_trigger)}),
{_watermarks_sql()}
SELECT count(*) FROM c JOIN late USING (batch)
WHERE ts - ts % {WINDOW_US} + {WINDOW_US} <= wm_late
"""
    ).fetchone()[0]


def check_tumbling(table_dir: str, clips_dir: str, files_per_trigger: int, n_batches: int) -> list[str]:
    con = _con()
    out = read_table(table_dir, con)
    out["window_start_us"] = _epoch_us(out["window_start"])
    errors = compare_windows(out, expected_windows(clips_dir, files_per_trigger, con))
    if dropped_late(clips_dir, files_per_trigger, con) == 0:
        # the input must exercise the late-drop rule, or the check above
        # would pass a program that never drops a straggler
        errors.append("the input has no straggler behind a late-event watermark")
    markers = sorted(int(f) for f in os.listdir(os.path.join(table_dir, "_commits")) if f.isdigit())
    if markers != list(range(n_batches)):
        errors.append(f"commit markers {markers} for {n_batches} micro-batches")
    return errors


def _epoch_us(s: pd.Series) -> pd.Series:
    s = pd.to_datetime(s)
    if s.dt.tz is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]").astype("int64")


# ------------------------------------------------------------------ join


def expected_join(clips_dir: str, corrections_dir: str, files_per_trigger: int, con=None):
    """(clips with on-time flag and matched correction, final watermark)."""
    con = con or _con()
    corr = os.path.join(corrections_dir, "*.parquet")
    clips = con.sql(
        f"""
WITH c AS ({_clips_sql(clips_dir, files_per_trigger)}),
{_watermarks_sql()},
x AS (SELECT clip_id, corrected_transcript, epoch_us(correction_ts) AS xts
      FROM read_parquet('{corr}'))
SELECT c.clip_id, c.ts, c.transcript, c.batch, c.ts > late.wm_late AS on_time,
       x.corrected_transcript, x.xts
FROM c JOIN late USING (batch)
LEFT JOIN x ON x.clip_id = c.clip_id AND x.xts >= c.ts AND x.xts <= c.ts + {JOIN_TOLERANCE_US}
"""
    ).df()
    final_wm = int(clips["ts"].max()) - WATERMARK_US
    return clips, final_wm


def compare_join(out: pd.DataFrame, clips: pd.DataFrame, final_wm: int) -> list[str]:
    """``out``: clip_id, ingest_us, transcript, corrected_transcript,
    correction_us, final_transcript, corrected."""
    errors = []
    if clips["clip_id"].duplicated().any():
        errors.append("a clip matches more than one correction in the oracle")
    dup = out["clip_id"].duplicated()
    if dup.any():
        errors.append(f"{int(dup.sum())} clip_ids emitted more than once, e.g. "
                      f"{out.loc[dup, 'clip_id'].head(3).tolist()}")
    m = out.merge(clips, on="clip_id", how="left", indicator=True)
    unknown = m[m["_merge"] == "left_only"]
    if len(unknown):
        errors.append(f"{len(unknown)} emitted clip_ids are not in the input")
    m = m[m["_merge"] == "both"]
    wrong = m[(m["ingest_us"] != m["ts"]) | (m["transcript_x"] != m["transcript_y"])]
    if len(wrong):
        errors.append(f"{len(wrong)} rows carry another ingest_ts or transcript than their clip")
    matched = m["xts"].notna()
    bad_match = m[
        (m["corrected"] != matched)
        | (matched & ((m["corrected_transcript_x"] != m["corrected_transcript_y"])
                      | (m["correction_us"] != m["xts"])))
    ]
    if len(bad_match):
        errors.append(f"{len(bad_match)} rows disagree with the interval join, e.g. "
                      f"{bad_match['clip_id'].head(3).tolist()}")
    want_final = np.where(m["corrected"], m["corrected_transcript_x"], m["transcript_x"])
    if (m["final_transcript"].to_numpy() != want_final).any():
        errors.append("final_transcript is not the correction when matched, else the transcript")
    due = clips[clips["on_time"] & (clips["ts"] < final_wm - JOIN_TOLERANCE_US - WATERMARK_US)]
    absent = set(due["clip_id"]) - set(out["clip_id"])
    if absent:
        errors.append(f"{len(absent)} on-time clips past tolerance + watermark delay are missing, "
                      f"e.g. {sorted(absent)[:3]}")
    return errors


def check_join(table_dir: str, clips_dir: str, corrections_dir: str, files_per_trigger: int) -> list[str]:
    con = _con()
    out = read_table(table_dir, con)
    out["ingest_us"] = _epoch_us(out["ingest_ts"])
    out["correction_us"] = _epoch_us(out["correction_ts"]).where(out["correction_ts"].notna())
    clips, final_wm = expected_join(clips_dir, corrections_dir, files_per_trigger, con)
    return compare_join(out, clips, final_wm)


# ------------------------------------------------------------------ ts_api

# request name -> (registry.ORACLES key, absolute value tolerance, key columns).
# The registry's SQL covers all tags and the whole month at the request's
# bucket size; restricting it to the request's tags and range gives the
# expected rows. Tolerances: the API rounds to 6 decimals (resample,
# interpolate), the oracles round TWA and circular averages to 4, summary
# statistics are 2-decimal in both but rounded from differently summed doubles.
TS_ORACLES = {
    "raw": ("ts_raw", 0.0, ["tagname", "event_time", "value"]),
    "resample": ("ts_resample_avg", 1e-6, ["tagname", "event_time"]),
    "interpolate": ("ts_interpolate_linear", 1e-6, ["tagname", "event_time"]),
    "twa": ("ts_twa_linear", 1e-4, ["tagname", "event_time"]),
    "circular_average": ("ts_circular_avg", 1e-4, ["tagname", "event_time"]),
    "summary": ("ts_summary", 0.0101, ["tagname"]),
    "latest": ("ts_latest", 0.0, ["tagname"]),
    "plot": ("ts_plot_unpivot", 0.0, ["tagname", "event_time", "aggregation"]),
}


def ts_expected(name: str, params: dict, con) -> pd.DataFrame:
    from core_spark import registry

    key = TS_ORACLES[name][0]
    df = con.sql(registry.ORACLES[key]).df()
    if params.get("tag_name"):
        df = df[df["tagname"].isin(params["tag_name"])]
    if "start_date" in params and "event_time" in df.columns:
        t = pd.to_datetime(df["event_time"])
        df = df[(t >= pd.Timestamp(params["start_date"])) & (t < pd.Timestamp(params["end_date"]))]
    return df.reset_index(drop=True)


def compare_rows(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    tol, keys = TS_ORACLES[name][1], TS_ORACLES[name][2]
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    got, want = got.copy(), want.copy()
    for df in (got, want):
        if "event_time" in df.columns:
            df["event_time"] = pd.to_datetime(df["event_time"]).astype("datetime64[ms]")
    if got.duplicated(keys).any():
        return [f"{name}: duplicate keys in the response"]
    m = got.merge(want, on=keys, how="outer", suffixes=("", "_exp"), indicator=True)
    if (m["_merge"] != "both").any():
        return [f"{name}: {int((m['_merge'] == 'left_only').sum())} extra and "
                f"{int((m['_merge'] == 'right_only').sum())} missing rows vs the oracle"]
    errors = []
    for col in want.columns:
        if col in keys:
            continue
        a, b = m[col], m[f"{col}_exp"]
        if pd.api.types.is_numeric_dtype(b):
            a, b = a.to_numpy(float), b.to_numpy(float)
            ok = (np.isnan(a) & np.isnan(b)) | (np.abs(a - b) <= tol)
        else:
            ok = (a.astype(str) == b.astype(str)).to_numpy()
        if not ok.all():
            errors.append(f"{name}: {col} differs from the oracle in {int((~ok).sum())} rows")
    return errors


def check_ts_api(cycle, answers: list, events_path: str) -> list[str]:
    """Round 0 against DuckDB; every later round must repeat round 0."""
    con = _con()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    errors = []
    for (name, _, params), (status, body) in zip(cycle, answers[0]):
        if status != 200:
            errors.append(f"{name}: HTTP {status}: {body}")
            continue
        got = pd.DataFrame(body["data"])
        if got.empty:
            errors.append(f"{name}: empty response")
            continue
        errors += compare_rows(name, got, ts_expected(name, params, con))
    for r, ans in enumerate(answers[1:], start=1):
        for (name, _, _), a, b in zip(cycle, ans, answers[0]):
            if a != b:
                errors.append(f"round {r}: {name} differs from round 0")
    return errors
