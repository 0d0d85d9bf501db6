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

"""Streaming CEP: A-followed-by-B-within-T per key, with absence alerts.

The in-domain pattern: a clip ingest (A) should be followed by a transcript
correction (B) within the horizon; a clip whose horizon closes with no
correction is an *absence* event — the alerting half of CEP that neither a
windowed aggregate nor the stream-stream join
(``streaming/join.corrected_transcripts``) can express, because "nothing
arrived" is only decidable when the watermark passes ``a_ts + within``.
The reference has no such operator (SURVEY §2.12: no stateful streaming at
all); its closest analog is the batch lag-gap rule
(monitoring/spark/identify_missing_data_interval.py:137-141).

Batch oracle: ``operators/cep.followed_by`` over the same unioned event
frame emits the identical (key, a_ts, b_ts) triples — asserted in
tests/test_streaming.py.

Scale notes (10^12-clip posture):
- State is keyed by full ``clip_id`` (pattern identity), NOT the salted
  prefix — CEP state must never be salted (SURVEY §7.4.5); shuffle pressure
  is bounded because each key's state is a handful of epoch-ms longs and
  closed keys are removed eagerly (matched A's leave state immediately,
  unmatched ones on watermark timeout).
- At 10^12 live keys the state store must be RocksDB, not the default
  heap-backed HDFS provider — ``rocksdb_state_conf()`` below returns the
  exact confs (changelog checkpointing keeps commit cost proportional to
  the per-batch delta, not the store size). Verified against a live query
  in tests/test_streaming_cep.py.
- Timeout scan is O(pending of that key); the timer wakes a key only when
  its earliest horizon can actually close.

Every funnel runs on one substrate, ``applyInPandasWithState``:
``funnel_stream`` is ``funnel_stream_keyed`` over the clip + correction
union, and the default and ``strict_order`` state machines below are the
only two matchers.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "clip_id string, a_ts timestamp, b_ts timestamp, lag_sec long, matched boolean"
)
# pending: epoch-ms of not-yet-matched A events; done: A's already emitted
# (matched or absence) whose timestamp the watermark has not yet passed —
# an at-least-once redelivery of such an A must not re-enter the pattern
# (once the watermark passes it, the engine's late-row filter drops the
# redelivery itself, so done is pruned to a >= wm).
STATE_SCHEMA = "pending array<long>, done array<long>"
_MAX_PENDING = 10_000  # cap state for a pathological key stuck ahead of the watermark


def rocksdb_state_conf(changelog: bool = True) -> dict[str, str]:
    """SQL confs selecting the RocksDB state store provider.

    The default HDFSBackedStateStoreProvider keeps every key's state on the
    executor heap — fine for 10^5 windows, fatal for 10^12 clip keys. RocksDB
    spills to local SSD and (with changelog checkpointing) uploads only each
    batch's delta at commit. Set these before the session (or per-session via
    ``spark.conf.set``; stateful queries read them at query start).
    """
    conf = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
            "true" if changelog else "false"
        ),
    }
    return conf


@contextmanager
def scoped_rocksdb_state(spark, changelog: bool = True):
    """Set the RocksDB state-store provider confs for the duration of the
    ``with`` block, restoring the prior values (or unsetting) on exit.

    Stateful queries read the provider conf at query START, so the scope
    must cover both plan construction and ``writeStream...start()``;
    already-started queries keep their provider when the scope exits.
    This is the supported way to run a stateful query on RocksDB without
    leaking the provider switch into later unrelated streaming queries on
    the session.
    """
    old = {k: spark.conf.get(k, None) for k in rocksdb_state_conf()}
    for k, v in rocksdb_state_conf(changelog).items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in old.items():
            if v is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, v)


def clip_correction_events(clips: DataFrame, corrections: DataFrame) -> DataFrame:
    """Union the two streams into one keyed event stream: A = clip ingest,
    B = correction. Works identically on batch frames (the oracle side)."""
    a = clips.select(
        "clip_id", F.col("ingest_ts").alias("ts"), F.lit(True).alias("is_a")
    )
    b = corrections.select(
        "clip_id", F.col("correction_ts").alias("ts"), F.lit(False).alias("is_a")
    )
    return a.unionByName(b)


def _emit_row(key: str, a_ms: int, b_ms: int | None) -> dict[str, Any]:
    return {
        "clip_id": key,
        "a_ts": pd.Timestamp(a_ms, unit="ms"),
        "b_ts": pd.Timestamp(b_ms, unit="ms") if b_ms is not None else None,
        # floor each side to seconds, then diff — the exact definition of
        # unix_timestamp(b) - unix_timestamp(a) in the batch operator
        "lag_sec": b_ms // 1000 - a_ms // 1000 if b_ms is not None else None,
        "matched": b_ms is not None,
    }


# The batch oracle's horizon is floored-seconds arithmetic
# (unix_timestamp(b) - unix_timestamp(a) <= within, operators/cep.py):
# B matches A iff it is strictly later in ms AND its floored-second lag
# fits. An A's horizon therefore closes only once no future B can
# satisfy the SECONDS test: b_s <= a_s + within  <=>  b_ms < horizon.
def _horizon_of(a_ms: int, within_sec: int) -> int:
    return (a_ms // 1000 + within_sec + 1) * 1000


def _b_matches(a_ms: int, b_ms: int, within_sec: int) -> bool:
    return b_ms > a_ms and b_ms // 1000 - a_ms // 1000 <= within_sec


def _make_funnel_fn(within_sec: int):

    _emit = _emit_row

    def _horizon_ms(a_ms: int) -> int:
        return _horizon_of(a_ms, within_sec)

    def _matches(a_ms: int, b_ms: int) -> bool:
        return _b_matches(a_ms, b_ms, within_sec)

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        k = key[0]
        wm = state.getCurrentWatermarkMs()
        if state.exists:
            pending, done = (list(x) for x in tuple(state.get))
        else:
            pending, done = [], []
        out: list[dict[str, Any]] = []

        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            if not rows.empty:
                # B before A at equal ts => "followed by" is strictly-after,
                # the exact tie rule of the batch operator's (ts, s) sort.
                rows = rows.sort_values(["ts", "is_a"], kind="stable")
                ts_ms = (rows["ts"].astype("int64") // 1_000_000).to_numpy()
                is_a = rows["is_a"].to_numpy(dtype=bool)
                for t, a_flag in zip(ts_ms.tolist(), is_a.tolist()):
                    if a_flag:
                        # duplicate A at one (key, ts) — at-least-once
                        # redelivery — collapses even after the original was
                        # matched/closed (done), matching the batch dedup
                        if t not in pending and t not in done:
                            if len(pending) < _MAX_PENDING:
                                pending.append(t)
                            else:
                                # state cap hit for this pathological key:
                                # emit the A immediately with matched=NULL
                                # (neither matched nor a watermark-closed
                                # absence) so the drop is observable instead
                                # of the alerting path silently going dark
                                row = _emit(k, t, None)
                                row["matched"] = None
                                out.append(row)
                                done.append(t)
                    else:
                        hit = [a for a in pending if _matches(a, t)]
                        if hit:
                            out.extend(_emit(k, a, t) for a in hit)
                            done.extend(hit)
                            pending = [a for a in pending if not _matches(a, t)]

        # close expired horizons INLINE as well as on timer: a key with
        # continuous traffic would otherwise never fire its event-time
        # timeout (timers only fire on batches where the key has no data)
        # and its absence alerts would starve behind live state
        closed = [a for a in pending if _horizon_ms(a) <= wm]
        if closed:
            out.extend(_emit(k, a, None) for a in closed)
            done.extend(closed)
            pending = [a for a in pending if _horizon_ms(a) > wm]
        # a redelivery below the watermark is dropped by the engine itself
        done = [a for a in done if a >= wm]

        if out:
            yield pd.DataFrame(out)
        if pending or done:
            state.update((pending, done))
            if pending:
                state.setTimeoutTimestamp(max(_horizon_ms(min(pending)), wm + 1))
            else:
                # no pattern state left — wake once the watermark passes the
                # last done entry so the key's state is garbage-collected
                state.setTimeoutTimestamp(max(max(done) + 1, wm + 1))
        elif state.exists:
            state.remove()

    return fn


STRICT_STATE_SCHEMA = "pending array<long>, done array<long>, bs array<long>"


def _make_strict_funnel_fn(within_sec: int):
    """Order-insensitive funnel: buffer candidate B timestamps and emit each
    A's match only once the watermark passes its EARLIEST matching B — at
    that point no earlier B can still arrive (the engine drops rows behind
    the watermark), so the choice is final and equals the batch oracle's
    earliest-B rule even when Bs are reordered ACROSS micro-batches. This
    closes the one documented divergence of ``_make_funnel_fn`` at the cost
    of watermark-bounded emission latency on the matched path (absence rows
    already carried that latency). State adds one array: the live B
    candidates, pruned to ``> watermark`` (a retained B at or behind the
    watermark would already have finalized every A it could serve)."""

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        k = key[0]
        wm = state.getCurrentWatermarkMs()
        if state.exists:
            pending, done, bs = (list(x) for x in tuple(state.get))
        else:
            pending, done, bs = [], [], []
        out: list[dict[str, Any]] = []

        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            if not rows.empty:
                ts_ms = (rows["ts"].astype("int64") // 1_000_000).to_numpy()
                is_a = rows["is_a"].to_numpy(dtype=bool)
                for t, a_flag in zip(ts_ms.tolist(), is_a.tolist()):
                    if a_flag:
                        if t not in pending and t not in done:
                            if len(pending) < _MAX_PENDING:
                                pending.append(t)
                            else:
                                row = _emit_row(k, t, None)
                                row["matched"] = None
                                out.append(row)
                                done.append(t)
                    else:
                        if t not in bs:
                            if len(bs) < _MAX_PENDING:
                                bs.append(t)
                            else:
                                # keep the EARLIEST candidates — they are the
                                # only ones the earliest-B rule can pick;
                                # evict the max so a pathological key's
                                # buffer degrades toward late-match, never
                                # toward a false absence for old As
                                mx = max(bs)
                                if t < mx:
                                    bs.remove(mx)
                                    bs.append(t)

        # finalize: A matches min(B) once wm passes that B; absence once the
        # horizon itself is behind wm with no candidate in sight
        still: list[int] = []
        for a in pending:
            cand = [b for b in bs if _b_matches(a, b, within_sec)]
            mb = min(cand) if cand else None
            if mb is not None and mb <= wm:
                out.append(_emit_row(k, a, mb))
                done.append(a)
            elif _horizon_of(a, within_sec) <= wm:
                out.append(_emit_row(k, a, None))
                done.append(a)
            else:
                still.append(a)
        pending = still
        done = [a for a in done if a >= wm]
        # every retained matching B for a still-pending A is > wm (else the
        # A would have finalized above); Bs at/behind wm serve no future A
        # either (a late A would itself be dropped by the engine)
        bs = [b for b in bs if b > wm]

        if out:
            yield pd.DataFrame(out)
        if pending or done or bs:
            state.update((pending, done, bs))
            if pending:
                due = [
                    min(
                        [b for b in bs if _b_matches(a, b, within_sec)]
                        or [_horizon_of(a, within_sec)]
                    )
                    for a in pending
                ]
                state.setTimeoutTimestamp(max(min(due), wm + 1))
            else:
                tail = max(max(done, default=0), max(bs, default=0))
                state.setTimeoutTimestamp(max(tail + 1, wm + 1))
        elif state.exists:
            state.remove()

    return fn


def funnel_stream(
    clips: DataFrame,
    corrections: DataFrame,
    within_sec: int = 60,
    watermark_sec: int = 30,
    strict_order: bool = False,
) -> DataFrame:
    """A-followed-by-B pattern over the live clip + correction streams.

    Emits matched pairs as soon as the B side arrives and absence rows when
    the watermark closes an A's horizon. Batch frames run the same union
    through the batch operator semantics (``operators/cep.followed_by``) —
    that equivalence is the operator's correctness oracle for in-order
    streams. Default mode favors emission latency (a match fires the moment
    its B arrives), with one documented divergence: if two candidate Bs for
    one A are REORDERED ACROSS micro-batches (the later-timestamped B
    committed in an earlier batch, both within the watermark), the stream
    matches the B it saw first, while the batch oracle picks the earlier
    timestamp. Within a micro-batch, rows are time-sorted, so ordinary
    bounded-disorder ingest is unaffected. ``strict_order=True`` removes the
    divergence entirely: candidate Bs are buffered in state and each match
    is emitted only once the watermark passes its earliest B — batch-exact
    under ANY cross-batch reorder inside the watermark, at the cost of
    watermark-bounded match latency (tests/test_cep.py proves both the
    default mode's divergence and the strict mode's exactness on the same
    adversarial split).
    """
    return funnel_stream_keyed(
        clip_correction_events(clips, corrections), "clip_id", "ts", "is_a",
        "NOT is_a", within_sec, watermark_sec, strict_order,
    )


def funnel_stream_keyed(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    a_pred: str,
    b_pred: str,
    within_sec: int,
    watermark_sec: int = 30,
    strict_order: bool = False,
) -> DataFrame:
    """A-followed-by-B funnel over ANY single keyed event stream, with the
    A/B split expressed as predicates (batch twin:
    ``operators/cep.followed_by``, reference pattern per SURVEY §2.12).
    ``funnel_stream`` is this function over the clip + correction union.
    Predicates are coalesced JVM-side so NULL inputs read as false,
    matching the batch oracle. Output keeps the funnel's schema with
    ``clip_id`` carrying the stringified key."""
    ev = df.where(f"({a_pred}) OR ({b_pred})").select(
        F.col(key_col).cast("string").alias("clip_id"),
        F.col(ts_col).alias("ts"),
        F.coalesce(F.expr(a_pred), F.lit(False)).alias("is_a"),
    )
    if not df.isStreaming:
        from ..operators import cep as _cep

        return _cep.followed_by(
            ev, _cep.CepSpec(key_col="clip_id", ts_col="ts"), "is_a", "NOT is_a",
            within_sec,
        )
    ev = ev.withWatermark("ts", f"{watermark_sec} seconds")
    return ev.groupBy("clip_id").applyInPandasWithState(
        _make_strict_funnel_fn(within_sec) if strict_order else _make_funnel_fn(within_sec),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STRICT_STATE_SCHEMA if strict_order else STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


CHAIN_OUTPUT_SCHEMA = (
    "key string, start_ts timestamp, end_ts timestamp, span_sec long"
)
CHAIN_STATE_SCHEMA = "ts array<long>, marks array<int>"


def _make_chain_fn(n: int, within_sec: int | None):
    """Contiguous n-step chain matcher: state = the key's last n-1 events
    (epoch-ms + marker bitmaps), so chains spanning micro-batch boundaries
    still fire. Same in-order domain as the funnel (rows sorted per batch;
    cross-batch reorder within the watermark is the documented divergence)."""

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        k = key[0]
        if state.hasTimedOut:  # no timers used; defensive
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values("ts", kind="stable")
        ts_ms = (rows["ts"].astype("int64") // 1_000_000).to_numpy()
        marks = np.zeros(len(rows), dtype=np.int64)
        for i in range(n):
            # belt-and-braces vs NULL markers (Arrow delivers them as NaN)
            marks |= rows[f"m{i}"].fillna(0).to_numpy(dtype=np.int64) << i

        if state.exists:
            p_ts, p_mk = tuple(state.get)
            ts_all = np.concatenate((np.asarray(p_ts, np.int64), ts_ms))
            mk_all = np.concatenate((np.asarray(p_mk, np.int64), marks))
        else:
            ts_all, mk_all = ts_ms, marks

        # chains fully inside the carried prefix fired last batch — only
        # rows of THIS batch (i >= n_prev) can end a new chain
        n_prev = len(ts_all) - len(ts_ms)
        out = []
        for i in range(max(n - 1, n_prev), len(ts_all)):
            if not (mk_all[i] >> (n - 1)) & 1:
                continue
            if not all((mk_all[i - (n - 1 - j)] >> j) & 1 for j in range(n - 1)):
                continue
            start, end = int(ts_all[i - (n - 1)]), int(ts_all[i])
            span = end // 1000 - start // 1000
            if within_sec is not None and span > within_sec:
                continue
            out.append(
                (k, pd.Timestamp(start, unit="ms"), pd.Timestamp(end, unit="ms"), span)
            )
        if out:
            yield pd.DataFrame(out, columns=["key", "start_ts", "end_ts", "span_sec"])
        keep = min(n - 1, len(ts_all))
        if keep:
            state.update((ts_all[-keep:].tolist(), mk_all[-keep:].tolist()))

    return fn


def chain_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    preds: list[str],
    within_sec: int | None = None,
    watermark_sec: int = 30,
) -> DataFrame:
    """Streaming MATCH_RECOGNIZE-style contiguous chain over any keyed
    event stream — the streaming twin of ``operators/cep.match_contiguous``
    (its batch form is the oracle, tests/test_cep.py). Marker predicates
    evaluate JVM-side (whole-stage codegen) before the stateful operator;
    per-key state is just the last ``len(preds)-1`` events."""
    n = len(preds)
    if n < 2:
        raise ValueError("pattern needs at least 2 steps")
    ev = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias("ts"),
        # coalesce: a predicate over NULL inputs is NULL, which Arrow hands
        # to pandas as float64 NaN and the int64 cast in _make_chain_fn would
        # raise, killing the query; the batch oracle treats null as false
        *[
            F.coalesce(F.expr(p).cast("int"), F.lit(0)).alias(f"m{i}")
            for i, p in enumerate(preds)
        ],
    )
    if not df.isStreaming:
        from ..operators import cep as _cep

        out = _cep.match_contiguous(
            df.withColumn("__k", F.col(key_col).cast("string")),
            _cep.CepSpec(key_col="__k", ts_col=ts_col),
            preds,
            within_sec,
        )
        return out.withColumnRenamed("__k", "key")
    ev = ev.withWatermark("ts", f"{watermark_sec} seconds")
    return ev.groupBy("key").applyInPandasWithState(
        _make_chain_fn(n, within_sec),
        outputStructType=CHAIN_OUTPUT_SCHEMA,
        stateStructType=CHAIN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
