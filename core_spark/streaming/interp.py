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

"""Incremental resample + interpolate — the reference's interpolate verb
(_time_series_query_builder.py:269-301,908-1042; engine batch form
operators/timeseries.interpolate) as a streaming computation. The second
half of SURVEY §7.4.3's known-hard pair (with streaming/twa.py): an empty
bucket's linear fill needs the NEXT non-empty bucket's average, so the
operator must hold empty buckets 'pending' until a later bucket decides
them — a windowed aggregate cannot look forward.

Semantics (kept aligned with the batch verb):
- per (key, bucket) average of the value, bucket closed when the watermark
  passes bucket end (exactly the native windowed-agg closure; late rows
  beyond the watermark are dropped by the engine's standard contract);
- closed empty buckets between two non-empty ones emit the batch verb's
  linear formula ``prev + (next-prev)*(t-prev_t)/(next_t-prev_t)`` over
  bucket-start seconds (TSQB:282) — or the previous average for 'ffill';
- leading empties (no previous observation) emit NULL, as in batch;
- with 'linear', trailing empties are UNDECIDABLE until the next non-empty
  bucket arrives and stay pending (the batch verb, knowing the range end,
  forward-fills them — a stream cannot know no more data is coming).

Parity: bucket averages are float sums, so the last ~1 ulp depends on
partial-sum order (batch shuffles, streaming accumulates per micro-batch);
tests compare at 1e-6 — every other term in the pipeline (the fill
formula, HALF_UP rounding) is expression-identical.

State per key: last non-empty (bucket, value), the last emitted bucket
(``filled_to`` — gap buckets are DERIVED from it, never stored), and
open-bucket (sum, count) partials. Fill emission is bounded per gap /
per invocation (_MAX_FILL). Vectorized per micro-batch, north rule.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .twa import _round6

OUTPUT_SCHEMA = "prefix string, event_time timestamp, value double, filled boolean"
STATE_SCHEMA = (
    "last_b long, last_v double, filled_to long, "
    "ob array<long>, osum array<double>, ocnt array<long>"
)
# Gap buckets are DERIVED from (filled_to, next bucket) — never materialized
# as state — so a year-long outage costs 16 bytes, not a 31M-entry list.
# _MAX_FILL bounds emitted fill rows: linear backfills at most this many
# buckets per gap (older ones are skipped — a bounded-backfill policy, the
# streaming analog of the batch verb's [start, end) range bound); ffill
# drains at most this many per invocation and resumes via timer, so long
# outages emit progressively with no holes and no per-batch blowup.
_MAX_FILL = 10_000


def _rows(prefix, items):
    return pd.DataFrame(
        {
            "prefix": prefix,
            "event_time": pd.to_datetime(
                np.asarray([b for b, _, _ in items], np.int64) * 1_000_000_000
            ),
            "value": [v for _, v, _ in items],
            "filled": [f for _, _, f in items],
        }
    )


def make_interp_fn(every: int, method: str):
    if method not in ("linear", "ffill"):
        raise ValueError("method must be linear|ffill")

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        prefix = key[0]

        def load():
            if state.exists:
                last_b, last_v, filled_to, ob, osum, ocnt = tuple(state.get)
                return last_b, last_v, filled_to, {
                    b: (s, c) for b, s, c in zip(ob, osum, ocnt)
                }
            return None, None, None, {}

        last_b, last_v, filled_to, open_b = load()
        out: list[tuple[int, float | None, bool]] = []

        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            if not rows.empty:
                t_s = (rows["ingest_ts"].astype("int64") // 1_000_000_000).to_numpy()
                v = rows["energy"].to_numpy(np.float64)
                b = t_s // every * every
                ub, inv = np.unique(b, return_inverse=True)
                s_acc = np.zeros(len(ub))
                c_acc = np.zeros(len(ub), np.int64)
                np.add.at(s_acc, inv, v)
                np.add.at(c_acc, inv, 1)
                for bb, ss, cc in zip(ub.tolist(), s_acc.tolist(), c_acc.tolist()):
                    os_, oc_ = open_b.get(bb, (0.0, 0))
                    open_b[bb] = (os_ + ss, oc_ + cc)

        wm_s = state.getCurrentWatermarkMs() // 1000
        closable = sorted(b for b in open_b if b + every <= wm_s)

        for b in closable:
            s, c = open_b.pop(b)
            cur_v = _round6(s / c)
            if filled_to is not None:
                # gap buckets strictly between the last emitted bucket and
                # this one, derived arithmetically; bounded backfill keeps
                # a pathological gap from emitting millions of rows
                gap_lo = filled_to + every
                n_gap = (b - gap_lo) // every
                start = gap_lo if n_gap <= _MAX_FILL else b - _MAX_FILL * every
                for p in range(start, b, every):
                    if method == "ffill":
                        out.append((p, last_v, True))
                    else:
                        t, pt, nt = float(p), float(last_b), float(b)
                        out.append(
                            (p, _round6(last_v + (cur_v - last_v) * (t - pt) / (nt - pt)), True)
                        )
            out.append((b, cur_v, False))
            last_b, last_v, filled_to = b, cur_v, b
        # ffill needs no future bucket: extend decided fills to the
        # watermark frontier, at most _MAX_FILL per invocation (the timer
        # below resumes the drain, so long outages emit progressively)
        if method == "ffill" and filled_to is not None:
            n = 0
            p = filled_to + every
            while p + every <= wm_s and n < _MAX_FILL:
                out.append((p, last_v, True))
                filled_to = p
                p += every
                n += 1

        if out:
            yield _rows(prefix, out)

        if last_b is None and not open_b:
            if state.exists:
                state.remove()
            return
        ob = sorted(open_b)
        state.update(
            (
                last_b,
                last_v,
                filled_to,
                ob,
                [open_b[b][0] for b in ob],
                [open_b[b][1] for b in ob],
            )
        )
        # wake when the earliest open bucket closes, or (ffill) when more
        # frontier fills are drainable
        due = [b + every for b in ob[:1]]
        if method == "ffill" and filled_to is not None and filled_to + 2 * every <= wm_s:
            due.append(filled_to + 2 * every)
        if due:
            # floor at the RAW watermark +1, not the second-floored wm_s:
            # when the ffill drain is capped, min(due)*1000 can be <= the true
            # watermark's sub-second remainder and Spark rejects a timeout
            # earlier than the current watermark (twa.py does the same)
            state.setTimeoutTimestamp(
                max(min(due) * 1000, state.getCurrentWatermarkMs() + 1)
            )

    return fn


def interp_stream(
    df: DataFrame,
    every_seconds: int = 60,
    watermark_sec: int = 30,
    method: str = "linear",
) -> DataFrame:
    """Streaming resample-and-fill over a keyed value stream (prefix,
    ingest_ts, energy), e.g. the clip feature frame (windows.clip_features,
    value = clip energy): non-empty buckets emit their average, gap buckets
    emit the batch verb's fill once decidable. Batch frames should use the
    plain batch verb in operators/timeseries — that is the parity oracle
    (tests/test_streaming_interp.py). Feeding integer-valued energies (e.g.
    a fixed-point 2-decimal scale) makes the bucket sums exact in any
    accumulation order, which is what the registry's DuckDB-oracled
    stream_interpolate does."""
    feats = df.select("prefix", "ingest_ts", "energy")
    if not df.isStreaming:
        raise ValueError(
            "batch frames should use operators/timeseries.interpolate — "
            "this operator is the streaming form"
        )
    feats = feats.withWatermark("ingest_ts", f"{watermark_sec} seconds")
    return feats.groupBy("prefix").applyInPandasWithState(
        make_interp_fn(every_seconds, method),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
