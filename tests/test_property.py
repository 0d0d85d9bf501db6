"""Property-based tests (hypothesis) for the pure-numpy kernels.

These pin the engine's per-row invariants over the input space rather than
hand-picked examples: codec round-trip SNR (BASELINE per-row invariant),
winnowing's coverage guarantee, and bucket-math consistency."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from core_spark.functions import audio as au
from core_spark.operators.dedup import _winnow_one


def _snr_db(ref: np.ndarray, dec: np.ndarray) -> float:
    noise = ref - dec
    p_sig = float(np.mean(ref * ref))
    p_noise = float(np.mean(noise * noise))
    if p_noise == 0:
        return np.inf
    return 10.0 * np.log10(p_sig / p_noise)


signals = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    min_size=32,
    max_size=2048,
)


@settings(max_examples=50, deadline=None)
@given(signals)
def test_pcm16_roundtrip_snr(xs):
    x = np.asarray(xs, dtype=np.float32)
    if float(np.mean(x * x)) < 1e-4:
        x = x + 0.1  # SNR undefined for silence; shift to a live signal
    dec = au.decode(au.pcm16_encode(x), "pcm16")
    assert len(dec) == len(x)
    # int16 quantization: SNR >= 30 dB for any signal with power >= 1e-4
    assert _snr_db(x.astype(np.float64), dec.astype(np.float64)) >= 30.0


@settings(max_examples=50, deadline=None)
@given(signals)
def test_ulaw_roundtrip_snr(xs):
    x = np.asarray(xs, dtype=np.float32)
    if float(np.mean(x * x)) < 1e-2:
        x = x + 0.3
    dec = au.decode(au.ulaw_encode(x), "ulaw")
    assert len(dec) == len(x)
    # G.711 mu-law: ~38 dB SNR for speech-level signals; 30 dB is the
    # engine's per-row invariant floor (BASELINE input_hint)
    assert _snr_db(x.astype(np.float64), dec.astype(np.float64)) >= 30.0


def test_ulaw_lut_exhaustive_roundtrip():
    """Every one of the 256 mu-law codes is a fixed point in VALUE space:
    decode -> encode -> decode reproduces the decoded value exactly.
    (Code-space identity does not hold for all codes — mu-law has two zero
    codes (0x7F/0xFF) and clip-range aliases — but the decoded value must
    survive a re-encode cycle bit-for-bit.)"""
    codes = np.arange(256, dtype=np.uint8).tobytes()
    dec = au.decode(codes, "ulaw")
    dec2 = au.decode(au.ulaw_encode(dec), "ulaw")
    assert np.array_equal(dec, dec2)


texts = st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=300
)


@settings(max_examples=100, deadline=None)
@given(texts, st.integers(min_value=2, max_value=6), st.integers(min_value=2, max_value=8))
def test_winnow_coverage_guarantee(s, k, w):
    """Winnowing invariant: every window of w consecutive k-grams contributes
    at least one selected fingerprint — so any shared substring of length
    >= k+w-1 between two docs is guaranteed a common fingerprint."""
    fps = set(_winnow_one(s, k, w).tolist())
    if len(s) < k:
        assert len(fps) == 1
        return
    n = len(s) - k + 1
    # recompute hashes exactly like the kernel
    b = np.frombuffer(s.encode(), dtype=np.uint8).astype(np.int64)
    v = np.zeros(n, dtype=np.int64)
    for i in range(k):
        v |= b[i : i + n] << (8 * (k - 1 - i))
    from core_spark.operators.dedup import _splitmix64

    with np.errstate(over="ignore"):
        h = _splitmix64(v.astype(np.uint64)).astype(np.int64)
    if n <= w:
        assert fps & set(h.tolist())
        return
    for st_ in range(0, n - w + 1):
        window = set(h[st_ : st_ + w].tolist())
        assert window & fps, f"window at {st_} has no selected fingerprint"


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=0, max_value=2_000_000_000),
    st.sampled_from([60, 300, 3600, 21600, 86400]),
)
def test_bucket_math_consistency(epoch, every):
    """floor(epoch/every)*every (the engine + oracle bucket formula) is
    idempotent, aligned, and never after the input."""
    b = (epoch // every) * every
    assert b % every == 0
    assert b <= epoch < b + every
    assert (b // every) * every == b


# ------------------------------------------------------- TWA integration

from core_spark.streaming.twa import integrate_segments

series = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5000),
        st.floats(min_value=0.0, max_value=10.0, allow_nan=False),
    ),
    min_size=2,
    max_size=60,
).map(lambda xs: sorted({t: v for t, v in xs}.items()))


@settings(max_examples=80, deadline=None)
@given(series, st.sampled_from([7, 60, 137]))
def test_integrate_conserves_mass_and_time(sv, every):
    if len(sv) < 2:
        return
    t = np.array([a for a, _ in sv])
    v = np.array([b for _, b in sv])
    b, tw, dt = integrate_segments(t, v, every, step=False)
    # time conservation: good seconds == total observed span (scaled 1e3)
    assert dt.sum() == (t[-1] - t[0]) * 1000
    # mass conservation: bucket integrals sum to the whole-series trapezoid
    # (each sub-segment rounds to 1e-6, so error <= n_subs * 5e-7)
    whole = float(np.sum((v[:-1] + v[1:]) / 2.0 * np.diff(t)))
    n_subs = len(t) + len(b)
    assert abs(tw.sum() / 1e6 - whole) <= n_subs * 5e-7 + 1e-9


@settings(max_examples=80, deadline=None)
@given(series, st.sampled_from([60, 137]))
def test_integrate_split_invariance(sv, every):
    # integrating the series in two halves that share the midpoint
    # observation equals integrating it whole — the exact property the
    # streaming operator relies on when it carries the last observation
    # across micro-batches
    if len(sv) < 3:
        return
    t = np.array([a for a, _ in sv])
    v = np.array([b for _, b in sv])
    mid = len(t) // 2
    whole = integrate_segments(t, v, every, step=False)
    left = integrate_segments(t[: mid + 1], v[: mid + 1], every, step=False)
    right = integrate_segments(t[mid:], v[mid:], every, step=False)
    merged: dict[int, tuple[int, int]] = {}
    for part in (left, right):
        for bb, ww, dd in zip(part[0].tolist(), part[1].tolist(), part[2].tolist()):
            w0, d0 = merged.get(bb, (0, 0))
            merged[bb] = (w0 + ww, d0 + dd)
    got = {b: (w, d) for b, w, d in zip(whole[0].tolist(), whole[1].tolist(), whole[2].tolist())}
    assert merged == got


# ----------------------------------------------------------- CEP funnel

from core_spark.streaming.cep import _make_funnel_fn


from helpers import MockGroupState as _MockState


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500_000),  # ms
        st.booleans(),  # is_a
    ),
    min_size=1,
    max_size=40,
)


def _brute_force_matches(evs, within_sec):
    """Batch semantics: each distinct A matches the earliest strictly-later
    B with floored-second lag <= within."""
    a_ts = sorted({t for t, is_a in evs if is_a})
    b_ts = sorted({t for t, is_a in evs if not is_a})
    out = {}
    for a in a_ts:
        cands = [b for b in b_ts if b > a and b // 1000 - a // 1000 <= within_sec]
        out[a] = min(cands) if cands else None
    return out


@settings(max_examples=60, deadline=None)
@given(events_strategy, st.sampled_from([1, 5, 60]), st.integers(1, 5))
def test_funnel_fn_matches_brute_force_any_batching(evs, within, n_batches):
    import pandas as pd

    evs = sorted(evs)  # in-order stream (the documented parity domain)
    fn = _make_funnel_fn(within)
    st_ = _MockState()
    outs = []
    # split the in-order stream into arbitrary consecutive micro-batches
    size = max(1, len(evs) // n_batches)
    for i in range(0, len(evs), size):
        chunk = evs[i : i + size]
        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime([t * 10**6 for t, _ in chunk]),
                "is_a": [a for _, a in chunk],
            }
        )
        outs.extend(list(fn(("k",), iter([pdf]), st_)))
        st_._wm = max(st_._wm, chunk[-1][0])  # watermark trails the max ts
    # close everything: watermark far in the future fires the timer
    st_.hasTimedOut = True
    st_._wm = 10**12
    outs.extend(list(fn(("k",), iter([]), st_)))

    import pandas as pd

    got = pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
        columns=["clip_id", "a_ts", "b_ts", "lag_sec", "matched"]
    )
    expected = _brute_force_matches(evs, within)
    got_map = {
        int(r["a_ts"].value // 10**6): (int(r["b_ts"].value // 10**6) if r["matched"] else None)
        for _, r in got.iterrows()
    }
    assert got_map == expected
    # every A emitted exactly once
    assert not got.duplicated(subset=["a_ts"]).any()


# ---- expectations engine vs a direct pandas reference implementation ----

_opt_floats = st.lists(
    st.one_of(
        st.none(),
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=15, deadline=None)
@given(
    xs=_opt_floats,
    lo=st.floats(min_value=-50, max_value=0, allow_nan=False),
    hi=st.floats(min_value=0, max_value=50, allow_nan=False),
    mostly=st.sampled_from([0.5, 0.8, 0.9, 1.0]),
)
def test_between_mostly_matches_pandas_reference(spark, xs, lo, hi, mostly):
    """GE semantics oracle: element_count is all rows, NULLs are missing,
    success and unexpected_percent use the non-null denominator."""
    import pandas as pd

    from core_spark.operators import expectations as ex

    pdf = pd.DataFrame({"x": pd.array(xs, dtype="float64")})
    df = spark.createDataFrame(pdf)
    r = ex.validate(
        df,
        ex.ExpectationSuite(
            "p",
            [
                ex.build_expectation(
                    "expect_column_values_to_be_between",
                    {"column": "x", "min_value": lo, "max_value": hi,
                     "mostly": mostly},
                )
            ],
        ),
    )["results"][0]
    vals = [v for v in xs if v is not None]
    missing = len(xs) - len(vals)
    unexpected = sum(1 for v in vals if not (lo <= v <= hi))
    ok = (1.0 - (unexpected / len(vals) if vals else 0.0)) >= mostly
    assert r["result"]["element_count"] == len(xs)
    assert r["result"]["missing_count"] == missing
    assert r["result"]["unexpected_count"] == unexpected
    assert r["success"] == ok


@settings(max_examples=15, deadline=None)
@given(xs=_opt_floats, strictly=st.booleans())
def test_monotonic_matches_pandas_reference(spark, xs, strictly):
    """Distributed monotonicity (range partitions + boundary combine) must
    equal the serial adjacency count on the null-filtered ordered series,
    at any partitioning of the input."""
    import pandas as pd

    from core_spark.operators import expectations as ex

    pdf = pd.DataFrame(
        {"o": range(len(xs)), "x": pd.array(xs, dtype="float64")}
    )
    df = spark.createDataFrame(pdf).repartition(5)
    r = ex.validate(
        df,
        ex.ExpectationSuite(
            "p",
            [
                ex.build_expectation(
                    "expect_column_values_to_be_increasing",
                    {"column": "x", "order_by": "o", "strictly": strictly},
                )
            ],
        ),
    )["results"][0]
    vals = [v for v in xs if v is not None]
    viol = sum(
        1
        for a, b in zip(vals, vals[1:])
        if (b <= a if strictly else b < a)
    )
    assert r["result"]["unexpected_count"] == viol
    assert r["result"]["missing_count"] == len(xs) - len(vals)
