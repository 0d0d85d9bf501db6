"""The output checkers on a tiny input: correct outputs pass, corrupted ones
are rejected.

    python3 perfbench/test_oracles.py        (or: python3 -m pytest perfbench/test_oracles.py)

No Spark session is started: the "program output" here is built from the
generated input by hand, then corrupted.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import oracles  # noqa: E402

TINY = os.path.join(inputs.STATE, "selftest")
FPT = 2  # files per trigger: 8 files -> 4 micro-batches, so stragglers of batches 2-3 drop
PER = 125  # clips per file


def _tiny_clips() -> str:
    d = os.path.join(TINY, "clips")
    if not os.path.isdir(d):
        for f in range(8):
            inputs._write(inputs.clips_table(f * PER, (f + 1) * PER, seed=11),
                          os.path.join(d, f"part-{f:05d}.parquet"), inputs.MTIME0 + f)
    return d


def _good_windows() -> pd.DataFrame:
    exp = oracles.expected_windows(_tiny_clips(), FPT)
    assert len(exp) > 3
    return exp.assign(
        avg_energy=exp["exp_energy"] * 1.001,
        avg_centroid_hz=exp["exp_centroid"] * 1.01,
        avg_zcr=exp["exp_zcr"],
    )[["window_start_us", "prefix", "n_clips", "sum_dur_ms", "avg_energy", "avg_centroid_hz", "avg_zcr"]]


def test_windows_accept_correct_output():
    exp = oracles.expected_windows(_tiny_clips(), FPT)
    assert oracles.compare_windows(_good_windows(), exp) == []


def test_windows_drop_stragglers_behind_the_watermark():
    con = oracles._con()
    clips = con.sql(oracles._clips_sql(_tiny_clips(), FPT)).df()
    late = clips[(clips["i"] % 100 == 99) & (clips["batch"] >= 2)]
    assert len(late) > 0
    exp = oracles.expected_windows(_tiny_clips(), FPT)
    # every straggler of batch >= 2 sits 15 min behind, in a window the
    # oracle must not count it in
    starts = set(late["ts"] - late["ts"] % oracles.WINDOW_US)
    assert not starts & set(exp["window_start_us"])
    assert oracles.dropped_late(_tiny_clips(), FPT) >= len(late)


def test_windows_reject_duplicated_key():
    exp = oracles.expected_windows(_tiny_clips(), FPT)
    out = _good_windows()
    out = pd.concat([out, out.iloc[[0]]])
    assert any("more than once" in e for e in oracles.compare_windows(out, exp))


def test_windows_reject_missing_on_time_clip():
    exp = oracles.expected_windows(_tiny_clips(), FPT)
    out = _good_windows()
    out.loc[0, "n_clips"] -= 1
    assert any("n_clips differs" in e for e in oracles.compare_windows(out, exp))


def test_windows_reject_missing_window():
    exp = oracles.expected_windows(_tiny_clips(), FPT)
    assert any("missing" in e for e in oracles.compare_windows(_good_windows().iloc[1:], exp))


def test_windows_reject_wrong_avg_energy():
    exp = oracles.expected_windows(_tiny_clips(), FPT)
    out = _good_windows()
    out.loc[2, "avg_energy"] *= 1.2
    assert any("avg_energy" in e for e in oracles.compare_windows(out, exp))


def test_windows_reject_wrong_avg_centroid():
    exp = oracles.expected_windows(_tiny_clips(), FPT)
    out = _good_windows()
    out.loc[2, "avg_centroid_hz"] = exp.loc[2, "exp_centroid"] * 0.95
    assert any("avg_centroid_hz" in e for e in oracles.compare_windows(out, exp))


def test_feature_model_bounds_every_clip():
    """The program's per-clip feature kernel (the one its Arrow stage runs
    on each decoded payload) against clip_features_model, for every clip
    index the longest run (60 s) writes. A clip's signal is a function of
    its index alone, so this bounds every window of every seed."""
    from core_spark.functions.audio import _spectral_one_i16
    from core_spark.functions.audio_arrow import _decode_view_i16

    shape = inputs.clip_shape("clip_tumbling", 60)
    n = shape["clips_per_file"] * shape["n_files"]
    model = oracles.clip_features_model(np.arange(n))
    got = np.empty((n, 3))
    for lo in range(0, n, 1000):
        t = inputs.clips_table(lo, min(n, lo + 1000), seed=11)
        for k, (b, codec, sr) in enumerate(zip(t["bytes"].to_pylist(), t["codec"].to_pylist(),
                                                t["sr_hz"].to_pylist())):
            feats = _spectral_one_i16(_decode_view_i16(np.frombuffer(b, np.uint8), codec), sr)
            got[lo + k] = feats[0], feats[4], feats[2]  # energy, centroid, zcr
    for j, (col, tol) in enumerate((("exp_energy", oracles.ENERGY_REL_TOL),
                                    ("exp_centroid", oracles.CENTROID_REL_TOL),
                                    ("exp_zcr", oracles.ZCR_REL_TOL))):
        rel = np.abs(got[:, j] / model[col].to_numpy() - 1)
        assert rel.max() <= tol / 1.5, (col, float(rel.max()), int(rel.argmax()))


def test_check_tumbling_reads_table_and_markers():
    table = os.path.join(TINY, "table")
    shutil.rmtree(table, ignore_errors=True)
    out = _good_windows()
    out["window_start"] = pd.to_datetime(out["window_start_us"], unit="us")
    out["p_date"] = out["window_start"].dt.strftime("%Y-%m-%d-%H")
    for p, g in out.groupby("p_date"):
        d = os.path.join(table, "data", f"p_date={p}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_pandas(g.drop(columns=["p_date", "window_start_us"]),
                                            preserve_index=False), os.path.join(d, "part-0.parquet"))
    os.makedirs(os.path.join(table, "_commits"))
    for b in range(5):
        open(os.path.join(table, "_commits", str(b)), "w").close()
    assert oracles.check_tumbling(table, _tiny_clips(), FPT, 5) == []
    assert any("commit markers" in e for e in oracles.check_tumbling(table, _tiny_clips(), FPT, 6))


def _join_case():
    d = os.path.join(TINY, "corrections")
    if not os.path.isdir(d):
        inputs._write(inputs.corrections_table(8 * PER, seed=11),
                      os.path.join(d, "part-00000.parquet"), inputs.MTIME0)
    clips, final_wm = oracles.expected_join(_tiny_clips(), d, FPT)
    matched = clips["xts"].notna()
    due = clips["ts"] < final_wm - oracles.JOIN_TOLERANCE_US - oracles.WATERMARK_US
    rows = clips[clips["on_time"] & (matched | due)]
    out = pd.DataFrame({
        "clip_id": rows["clip_id"],
        "ingest_us": rows["ts"],
        "transcript": rows["transcript"],
        "corrected_transcript": rows["corrected_transcript"],
        "correction_us": rows["xts"],
        "final_transcript": np.where(rows["xts"].notna(), rows["corrected_transcript"], rows["transcript"]),
        "corrected": rows["xts"].notna(),
    }).reset_index(drop=True)
    assert out["corrected"].any() and (~out["corrected"]).any()
    return out, clips, final_wm


def test_join_accepts_correct_output():
    out, clips, wm = _join_case()
    assert oracles.compare_join(out, clips, wm) == []


def test_join_rejects_duplicated_clip():
    out, clips, wm = _join_case()
    out = pd.concat([out, out.iloc[[0]]])
    assert any("more than once" in e for e in oracles.compare_join(out, clips, wm))


def test_join_rejects_missing_on_time_clip():
    out, clips, wm = _join_case()
    first_due = out.index[~out["corrected"]][0]
    assert any("missing" in e for e in oracles.compare_join(out.drop(first_due), clips, wm))


def test_join_rejects_wrong_correction():
    out, clips, wm = _join_case()
    k = out.index[out["corrected"]][0]
    out.loc[k, "corrected_transcript"] = "wrong"
    out.loc[k, "final_transcript"] = "wrong"
    assert any("interval join" in e for e in oracles.compare_join(out, clips, wm))


def _events_con():
    path = os.path.join(TINY, "events.parquet")
    if not os.path.exists(path):
        inputs._write(inputs.events_table(11), path, inputs.MTIME0)
    con = oracles._con()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    return con


def _as_api(df: pd.DataFrame) -> pd.DataFrame:
    """Render like the API's JSON envelope (ISO timestamps)."""
    df = df.copy()
    if "event_time" in df.columns:
        df["event_time"] = pd.to_datetime(df["event_time"]).dt.strftime("%Y-%m-%dT%H:%M:%S.%f000")
    return df


def test_ts_rows_accept_and_reject():
    import workloads

    con = _events_con()
    for name, _, params in workloads.CYCLE:
        want = oracles.ts_expected(name, params, con)
        assert len(want) > 0, name
        assert oracles.compare_rows(name, _as_api(want), want) == [], name
        dup = pd.concat([_as_api(want), _as_api(want).iloc[[0]]])
        assert oracles.compare_rows(name, dup, want), name
        assert oracles.compare_rows(name, _as_api(want).iloc[1:], want), name
    want = oracles.ts_expected("twa", workloads.CYCLE[3][2], con)
    bad = _as_api(want)
    bad.loc[bad.index[0], "value"] += 0.01
    assert any("value differs" in e for e in oracles.compare_rows("twa", bad, want))
    want = oracles.ts_expected("summary", workloads.CYCLE[5][2], con)
    bad = want.copy()
    bad.loc[bad.index[0], "cnt"] += 1
    assert any("cnt differs" in e for e in oracles.compare_rows("summary", bad, want))


if __name__ == "__main__":
    failed = 0
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"ok   {name}")
            except AssertionError as e:
                failed += 1
                print(f"FAIL {name} {e}")
    sys.exit(1 if failed else 0)
