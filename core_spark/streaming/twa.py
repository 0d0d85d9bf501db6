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

"""Incremental time-weighted average — the reference's TWA verb
(_time_series_query_builder.py:1424-1567, engine batch form
operators/timeseries.time_weighted_average) re-derived as a streaming
computation. SURVEY §7.4.3 flags this as the known-hard item: a bucket's
integral needs the observation on BOTH sides of each bucket edge, so a
plain windowed aggregate cannot express it — state must carry the last
observation per key and each bucket stays open until the segment crossing
its end has been integrated.

Math is kept bit-compatible with the batch operator so batch IS the oracle
(tests/test_streaming_twa.py):
- timestamps second-truncated (batch: ``unix_timestamp`` floors),
- segment integral per bucket-edge-split sub-segment:
  linear  (v0 + v1)/2 * dt  with edge values linearly interpolated,
  step    v0 * dt           (forward fill),
- each sub-segment's integral is rounded to a scaled integer
  (tw at 1e-6, dt at 1e-3, HALF_UP — values are non-negative energies, so
  floor(x+0.5) == Spark's HALF_UP) and summed as int64, making the
  aggregate order-insensitive; the final divide is one IEEE chain.

Bucket lifecycle: a bucket [b, b+W) closes when the event-time watermark
passes ``b + W + grace`` — the grace covers keys whose crossing segment
(the event at/after b+W) is merely sparse, not late. Contributions that
arrive after closure are emitted immediately with ``late = true`` so an
exactly-once MergeSink can fold them into the published row (the same
CDC-upsert posture as the reference's ChangeType merges,
pcdm_to_delta.py:278-283); in-watermark in-order streams emit no late rows
and match the batch operator exactly. Note the late path covers SPARSE
keys — a within-watermark event whose carried segment spans buckets that
closed while the key was silent; rows themselves older than the watermark
never reach the operator (Spark's stateful late-row filter drops them
first, the standard watermark contract).

Scale: state per key = last observation (16 B) + one (long, long, long)
triple per open bucket — bounded by (watermark + grace)/W + the key's gap
profile, capped at _MAX_OPEN. All integration is vectorized numpy over the
micro-batch's segments (repeat/cumsum sub-segment expansion — no per-row
Python, north rule).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "prefix string, event_time timestamp, value double, good_sec double, late boolean"
)
STATE_SCHEMA = (
    "last_s long, last_v double, bucket_s array<long>, tw array<long>, dt array<long>"
)
_MAX_OPEN = 10_000


def integrate_segments(
    t: np.ndarray, v: np.ndarray, every: int, step: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized trapezoid/step integration of the piecewise-linear series
    (t, v) split at epoch-aligned bucket edges.

    Returns (bucket_start_sec, tw_scaled_int, dt_scaled_int) aggregated per
    bucket — the same per-sub-segment scaled-integer rounding the batch
    operator applies per row (timeseries.py time_weighted_average).
    """
    t = np.asarray(t, dtype=np.int64)
    v = np.asarray(v, dtype=np.float64)
    if len(t) < 2:
        return (np.zeros(0, np.int64),) * 3
    t0, t1 = t[:-1], t[1:]
    v0, v1 = v[:-1], v[1:]
    keep = t1 > t0
    t0, t1, v0, v1 = t0[keep], t1[keep], v0[keep], v1[keep]
    if len(t0) == 0:
        return (np.zeros(0, np.int64),) * 3
    b0 = t0 // every
    b1_excl = (t1 - 1) // every  # bucket of the last covered second
    n_sub = (b1_excl - b0 + 1).astype(np.int64)
    seg_idx = np.repeat(np.arange(len(t0)), n_sub)
    # j-th sub-segment within its segment
    csum = np.concatenate(([0], np.cumsum(n_sub)))
    j = np.arange(len(seg_idx)) - csum[seg_idx]
    edge = (b0[seg_idx] + j) * every
    sub_lo = np.maximum(t0[seg_idx], edge)
    sub_hi = np.minimum(t1[seg_idx], edge + every)
    dt = (sub_hi - sub_lo).astype(np.float64)
    # endpoint values of each sub-segment on the segment's own line; the
    # expression ORDER mirrors the batch operator's
    # ``prev.v + (nxt.v - prev.v) * (t - pt) / (nt - pt)`` exactly, so both
    # engines produce bit-identical doubles before the scaled-int rounding
    span = (t1[seg_idx] - t0[seg_idx]).astype(np.float64)
    vd = v1[seg_idx] - v0[seg_idx]
    va = v0[seg_idx] + vd * (sub_lo - t0[seg_idx]).astype(np.float64) / span
    vb = v0[seg_idx] + vd * (sub_hi - t0[seg_idx]).astype(np.float64) / span
    tw = (v0[seg_idx] * dt) if step else ((va + vb) / 2.0 * dt)
    # HALF_UP on the non-negative domain == Spark's F.round
    tw_i = np.floor(tw * 1e6 + 0.5).astype(np.int64)
    dt_i = np.floor(dt * 1e3 + 0.5).astype(np.int64)
    bucket = sub_lo // every * every
    ub, inv = np.unique(bucket, return_inverse=True)
    tw_acc = np.zeros(len(ub), np.int64)
    dt_acc = np.zeros(len(ub), np.int64)
    np.add.at(tw_acc, inv, tw_i)
    np.add.at(dt_acc, inv, dt_i)
    nz = dt_acc > 0
    return ub[nz], tw_acc[nz], dt_acc[nz]


def _round6(x: float) -> float:
    """Spark's F.round semantics for doubles: HALF_UP on the shortest
    decimal representation (BigDecimal.valueOf). numpy's half-even rounding
    disagrees with it on ~0.1% of TWA buckets — this exact twin keeps the
    streaming rows bit-identical to the batch verb. O(closed buckets), not
    O(rows)."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("1e-6"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _emit(prefix: str, b_s, tw, dt, late: bool) -> pd.DataFrame:
    vals = (np.asarray(tw, np.float64) / 1e6) / (np.asarray(dt, np.float64) / 1e3)
    return pd.DataFrame(
        {
            "prefix": prefix,
            "event_time": pd.to_datetime(np.asarray(b_s) * 1_000_000_000),
            "value": [_round6(v) for v in vals.tolist()],
            "good_sec": np.asarray(dt, np.float64) / 1e3,
            "late": late,
        }
    )


def make_twa_fn(every: int, grace_sec: int, step: bool):
    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        prefix = key[0]

        def load():
            if state.exists:
                last_s, last_v, bs, tw, dt = tuple(state.get)
                return last_s, last_v, dict(zip(bs, zip(tw, dt)))
            return None, None, {}

        def close_ready(open_b, wm_s):
            ready = sorted(b for b in open_b if b + every + grace_sec <= wm_s)
            closed = [(b, *open_b.pop(b)) for b in ready]
            return closed

        def flush_overflow(open_b, last_s):
            """State cap: when a key holds more than _MAX_OPEN open buckets,
            force-emit the oldest ones early instead of silently dropping
            their partials. Only buckets wholly behind the frontier
            observation (b + every <= last_s) are flushed — segments always
            anchor at last_s, so those buckets can never gain mass and
            their values are already final; emitting before the grace
            window merely publishes them sooner."""
            if len(open_b) <= _MAX_OPEN:
                return []
            final = sorted(
                b for b in open_b
                if last_s is not None and b + every <= last_s
            )
            over = final[: len(open_b) - _MAX_OPEN]
            return [(b, *open_b.pop(b)) for b in over]

        def save(last_s, last_v, open_b, wm_ms):
            if last_s is None and not open_b:
                if state.exists:
                    state.remove()
                return
            bs = sorted(open_b)
            state.update(
                (
                    last_s,
                    last_v,
                    bs,
                    [open_b[b][0] for b in bs],
                    [open_b[b][1] for b in bs],
                )
            )
            # wake when the earliest open bucket becomes closable
            if bs:
                due_ms = (bs[0] + every + grace_sec) * 1000
                state.setTimeoutTimestamp(max(due_ms, wm_ms + 1))

        wm_ms = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            last_s, last_v, open_b = load()
            closed = close_ready(open_b, wm_ms // 1000)
            if closed:
                yield _emit(prefix, *zip(*[(b, w, d) for b, w, d in closed]), late=False)
            over = flush_overflow(open_b, last_s)
            if over:
                yield _emit(prefix, *zip(*over), late=False)
            save(last_s, last_v, open_b, wm_ms)
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values("ingest_ts")
        # second-truncated, exactly like batch unix_timestamp()
        t_s = (rows["ingest_ts"].astype("int64") // 1_000_000_000).to_numpy()
        v = rows["energy"].to_numpy(np.float64)

        last_s, last_v, open_b = load()
        if last_s is not None:
            # rows at/behind the carried frontier observation are DROPPED:
            # the series up to last_s is already integrated, and folding an
            # old row in (e.g. by clamping its timestamp forward) would
            # corrupt the frontier value that anchors the next segment.
            # In-order ingest never hits this; cross-batch disorder within
            # the watermark loses only the dropped row's own contribution.
            ahead = t_s > last_s
            t_s, v = t_s[ahead], v[ahead]
            t_all = np.concatenate(([last_s], t_s))
            v_all = np.concatenate(([last_v], v))
        else:
            t_all, v_all = t_s, v
        bsec, tw_i, dt_i = integrate_segments(t_all, v_all, every, step)

        wm_s = wm_ms // 1000
        late_out = []
        for b, w, d in zip(bsec.tolist(), tw_i.tolist(), dt_i.tolist()):
            if b + every + grace_sec <= wm_s and b not in open_b:
                # target bucket already closed and published -> late row for
                # the sink to MERGE-fold
                late_out.append((b, w, d))
            else:
                ow, od = open_b.get(b, (0, 0))
                open_b[b] = (ow + w, od + d)
        closed = close_ready(open_b, wm_s)
        new_last_s = int(t_all[-1]) if len(t_all) else last_s
        over = flush_overflow(open_b, new_last_s)
        if closed or over:
            yield _emit(
                prefix, *zip(*[(b, w, d) for b, w, d in closed + over]), late=False
            )
        if late_out:
            yield _emit(prefix, *zip(*late_out), late=True)
        save(new_last_s, float(v_all[-1]) if len(v_all) else last_v, open_b, wm_ms)

    return fn


def twa_stream(
    df: DataFrame,
    every_seconds: int = 60,
    watermark_sec: int = 30,
    grace_sec: int = 60,
    step: bool = False,
) -> DataFrame:
    """Streaming TWA over a keyed value stream (prefix, ingest_ts, energy):
    the clip feature frame (windows.clip_features, value = decoded clip
    energy) or any tag/ts/value stream (registry stream_twa runs it over
    the events table with a DuckDB oracle replicating the sub-segment
    integration). Batch frames run the identical integration in one
    applyInPandas pass (every bucket closes) — the oracle the parity tests
    compare against, which itself equals operators/timeseries
    .time_weighted_average on the same series."""
    feats = df.select("prefix", "ingest_ts", "energy")
    if not df.isStreaming:
        def batch_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("ingest_ts")
            t_s = (pdf["ingest_ts"].astype("int64") // 1_000_000_000).to_numpy()
            v = pdf["energy"].to_numpy(np.float64)
            b, tw, dt = integrate_segments(t_s, v, every_seconds, step)
            return _emit(pdf["prefix"].iloc[0], b, tw, dt, late=False)

        return feats.groupBy("prefix").applyInPandas(batch_fn, schema=OUTPUT_SCHEMA)
    feats = feats.withWatermark("ingest_ts", f"{watermark_sec} seconds")
    return feats.groupBy("prefix").applyInPandasWithState(
        make_twa_fn(every_seconds, grace_sec, step),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
