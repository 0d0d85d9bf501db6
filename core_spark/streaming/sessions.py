"""Custom stateful sessionization with gap interpolation —
applyInPandasWithState over clip-prefix groups.

Semantics grafted from the reference's batch operators (SURVEY §2.10):
- session boundary = inter-arrival gap >= gap_sec (a session covers
  [first, last + gap)), the lag-gap rule of
  identify_missing_data_interval.py:137-141 / missing_value_imputation.py:
  147-151 with the boundary closed the way Spark's session_window() closes
  it, so this operator and windows.session_windows_native agree on
  exact-boundary gaps;
- inside a session, energy is linearly interpolated onto a regular grid —
  the reference's linear-interpolation formula
  (_time_series_query_builder.py:282: prev + (next-prev)*(t-prev)/(next-prev))
  vectorized as np.interp over the session's observed (ts, energy) points.

Why applyInPandasWithState and not session_window(): the native operator
(windows.session_windows_native) covers the pure aggregate; this one carries
*ordered per-session point sets* so it can run the interpolation math and
emit gap statistics — per-group sequential logic that a hash aggregate
cannot express, Arrow-batched per the north rule (never per-row Python).

State keys are prefixes (16 at test scale; at 10^12 clips raise
windows.PREFIX_LEN so group count ~ O(10k) and each group's open-session
state stays small — state carries only the open session's points, closed
sessions are emitted and dropped). Out-of-order rows within the watermark are
folded into the open session (gap clamped at 0 for regressing timestamps);
availableNow replays are exact because each group sees its rows in one batch.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "prefix string, session_start timestamp, session_end timestamp, "
    "n_clips long, sum_dur_ms long, avg_energy double, max_gap_sec double, "
    "interp_energy_mean double"
)
# open-session state: start/last epoch-ms + running sums + observed points
STATE_SCHEMA = (
    "start_ms long, last_ms long, n long, sum_dur long, sum_energy double, "
    "max_gap_ms long, ts_points array<long>, energy_points array<double>"
)
_MAX_POINTS = 100_000  # cap state growth for pathological never-gapping keys


def _emit_row(prefix: str, st: Tuple[Any, ...], grid_ms: int) -> pd.DataFrame:
    start_ms, last_ms, n, sum_dur, sum_energy, max_gap_ms, ts_pts, en_pts = st
    ts = np.asarray(ts_pts, dtype=np.int64)
    en = np.asarray(en_pts, dtype=np.float64)
    order = np.argsort(ts, kind="stable")
    ts, en = ts[order], en[order]
    if len(ts) >= 2 and ts[-1] > ts[0]:
        grid = np.arange(ts[0], ts[-1] + 1, grid_ms, dtype=np.int64)
        # np.interp == the reference's linear interpolation semantics
        # (exact match at observed points, linear between, edge hold)
        interp_mean = float(np.mean(np.interp(grid, ts, en)))
    else:
        interp_mean = float(en.mean()) if len(en) else None
    return pd.DataFrame(
        {
            "prefix": [prefix],
            "session_start": [pd.Timestamp(start_ms, unit="ms")],
            "session_end": [pd.Timestamp(last_ms, unit="ms")],
            "n_clips": [n],
            "sum_dur_ms": [sum_dur],
            "avg_energy": [sum_energy / n if n else None],
            "max_gap_sec": [max_gap_ms / 1000.0],
            "interp_energy_mean": [interp_mean],
        }
    )


def make_session_fn(gap_sec: int, grid_ms: int = 1000):
    gap_ms = gap_sec * 1000

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        prefix = key[0]
        if state.hasTimedOut:
            if state.exists:
                yield _emit_row(prefix, tuple(state.get), grid_ms)
                state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values("ingest_ts")
        ts_ms = (rows["ingest_ts"].astype("int64") // 1_000_000).to_numpy()
        energy = rows["energy"].to_numpy(dtype=np.float64)
        dur = rows["dur_ms"].to_numpy(dtype=np.int64)

        if state.exists:
            (start, last, n, sdur, sen, mgap, tpts, epts) = tuple(state.get)
            tpts, epts = list(tpts), list(epts)
        else:
            start = last = int(ts_ms[0])
            n, sdur, sen, mgap = 0, 0, 0.0, 0
            tpts, epts = [], []

        out = []
        # vectorized gap scan: split indices where gap exceeds threshold
        prev = np.concatenate(([last], ts_ms[:-1]))
        gaps = ts_ms - prev
        split_at = set(np.nonzero(gaps >= gap_ms)[0].tolist())
        seg_bounds = sorted({0, len(ts_ms)} | split_at)
        for si in range(len(seg_bounds) - 1):
            lo, hi = seg_bounds[si], seg_bounds[si + 1]
            if lo == hi:
                continue
            if lo in split_at:  # close previous session before this segment
                if n > 0:
                    out.append(
                        _emit_row(prefix, (start, last, n, sdur, sen, mgap, tpts, epts), grid_ms)
                    )
                start = int(ts_ms[lo])
                n, sdur, sen, mgap = 0, 0, 0.0, 0
                tpts, epts = [], []
                last = int(ts_ms[lo])
            seg_ts = ts_ms[lo:hi]
            seg_gaps = np.diff(np.concatenate(([last], seg_ts)))
            seg_gaps = np.clip(seg_gaps, 0, None)
            mgap = max(mgap, int(seg_gaps.max()) if len(seg_gaps) else 0)
            n += int(hi - lo)
            sdur += int(dur[lo:hi].sum())
            sen += float(energy[lo:hi].sum())
            last = max(last, int(seg_ts.max()))
            if len(tpts) < _MAX_POINTS:
                tpts.extend(seg_ts.tolist())
                epts.extend(energy[lo:hi].tolist())
        for o in out:
            yield o
        state.update((start, last, n, sdur, sen, mgap, tpts, epts))
        # close the open session once event time passes last + gap; Spark
        # rejects timeouts at/behind the current watermark, so clamp forward
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last + gap_ms, wm + 1))

    return fn


def _batch_session_fn(gap_sec: int, grid_ms: int):
    """Batch analog: the input is complete, so every session (including the
    trailing open one) is emitted. Same gap rule, same interpolation."""
    gap_ms = gap_sec * 1000

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        prefix = pdf["prefix"].iloc[0]
        pdf = pdf.sort_values("ingest_ts")
        ts_ms = (pdf["ingest_ts"].astype("int64") // 1_000_000).to_numpy()
        energy = pdf["energy"].to_numpy(dtype=np.float64)
        dur = pdf["dur_ms"].to_numpy(dtype=np.int64)
        gaps = np.diff(ts_ms, prepend=ts_ms[0])
        bounds = [0, *np.nonzero(gaps >= gap_ms)[0].tolist(), len(ts_ms)]
        out = []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            if lo == hi:
                continue
            seg_gaps = np.diff(ts_ms[lo:hi], prepend=ts_ms[lo])
            st = (
                int(ts_ms[lo]),
                int(ts_ms[hi - 1]),
                int(hi - lo),
                int(dur[lo:hi].sum()),
                float(energy[lo:hi].sum()),
                int(seg_gaps.max()) if hi - lo else 0,
                ts_ms[lo:hi].tolist(),
                energy[lo:hi].tolist(),
            )
            out.append(_emit_row(prefix, st, grid_ms))
        return pd.concat(out, ignore_index=True)

    return fn


def sessionize(
    df: DataFrame,
    gap_sec: int = 300,
    watermark_sec: int = 30,
    grid_ms: int = 1000,
) -> DataFrame:
    """Stateful session detection over a clip feature frame (prefix,
    ingest_ts, energy, dur_ms; windows.clip_features).

    Streaming: applyInPandasWithState with event-time timeouts (emits a
    session when a gap appears or the watermark passes last+gap). Batch:
    same math via applyInPandas; the complete input means every session is
    closed, so all are emitted — this is the oracle for the streaming path.
    """
    feats = df.select("prefix", "ingest_ts", "energy", "dur_ms")
    if not df.isStreaming:
        return feats.groupBy("prefix").applyInPandas(
            _batch_session_fn(gap_sec, grid_ms), schema=OUTPUT_SCHEMA
        )
    feats = feats.withWatermark("ingest_ts", f"{watermark_sec} seconds")
    return feats.groupBy("prefix").applyInPandasWithState(
        make_session_fn(gap_sec, grid_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
