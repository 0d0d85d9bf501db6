"""Physical-plan audit for the headline queries.

For each audited query: print the formatted plan and assert the properties
that matter at 100 TB —

- time-range + tag filters reach the parquet scan (PushedFilters);
- the scan reads only needed columns (ReadSchema pruning);
- small dimension joins broadcast (BroadcastHashJoin, no SortMergeJoin for
  the UoM-style decoration);
- no CartesianProduct / BroadcastNestedLoopJoin anywhere;
- time-series gap fills use no look-ahead window frame.

Run: PYTHONPATH=. python tools/explain_audit.py [sf_dir]
Exit code 1 if any assertion fails (usable as a CI gate).
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

REPO = __file__.rsplit("/", 2)[0]
sys.path.insert(0, REPO)

from core_spark.session import get_spark  # noqa: E402
from core_spark import registry  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_LOOKAHEAD_FRAMES = ["currentrow$(), unboundedfollowing$()", "RowFrame, 1, unboundedfollowing$()"]

CHECKS = {
    # query -> (must_contain, must_not_contain)
    "ts_raw": (["GreaterThanOrEqual(ts", "ReadSchema"], ["CartesianProduct"]),
    "ts_resample_avg": (["GreaterThanOrEqual(ts", "HashAggregate"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "ts_summary": (["HashAggregate"], ["SortMergeJoin"]),
    "ts_uom_join": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    "dq_ksigma": (["BroadcastHashJoin"], ["CartesianProduct"]),
    "sim_topk_cosine": ([], ["CartesianProduct"]),
    "text_doc_stats": (["ReadSchema"], ["Exchange"]),
    "ts_ohlc": (["HashAggregate"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # gap fills look ahead with a running frame over the mirrored order: a
    # frame from the current (or next) row to UNBOUNDED FOLLOWING is
    # re-aggregated per row, quadratic in a tag's rows
    "ts_interpolate_linear": (
        [], ["CartesianProduct", "BroadcastNestedLoopJoin", *_LOOKAHEAD_FRAMES],
    ),
    "ts_interpolate_at_time": (["Window"], ["CartesianProduct", *_LOOKAHEAD_FRAMES]),
    "ts_twa_linear": (["Window"], ["CartesianProduct", *_LOOKAHEAD_FRAMES]),
    "dq_missing_pattern": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "transform_pcdm_split": (["ReadSchema"], ["CartesianProduct"]),
    "ts_raw_limit": (["GreaterThanOrEqual(ts"], ["CartesianProduct"]),
    # AR(1): one bucket agg + one per-tag window/agg chain, no joins at all
    "ts_ar1_forecast": (["HashAggregate"], ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"]),
    # KNN: corpus scanned once against the broadcast query side (the
    # broadcast nested loop IS the intended plan for a 20-row query set);
    # label/truth joins must broadcast, never sort-merge
    "ml_knn": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # as-of join: union + window forward-fill — NO join operator at all
    # (a theta-join formulation would show up as BroadcastNestedLoopJoin)
    "ts_asof_join": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # weather raw_grid: every predicate (time, run-time, lat/lon box, tag
    # suffix) must reach the parquet scan; no join (the one Exchange is the
    # contractual ORDER BY tagname range-sort, which orderBy+limit callers
    # collapse to TakeOrderedAndProject)
    "weather_raw_grid": (
        ["PushedFilters", "ReadSchema"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"],
    ),
    # smart-meter usage: one codegen projection over a pruned scan
    "transform_smart_meter_usage": (["ReadSchema"], ["Exchange", "HashAggregate"]),
    # weather data model: same shape — pure projection
    "transform_weather_model": (["ReadSchema"], ["Exchange", "HashAggregate"]),
    # deterministic sampling: a single-stage scan-level filter — any
    # Exchange means the sample stopped being a pushdown-friendly predicate
    "sample_hash": (["ReadSchema"], ["Exchange", "HashAggregate"]),
    "sample_split": (["ReadSchema"], ["Exchange", "HashAggregate"]),
    # contamination: benchmark gram side must broadcast; the only shuffle
    # is the (doc, bench) count aggregate
    "text_contamination": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # CEP funnel: pattern-relevant rows filtered at the scan (the A|B
    # disjunction pushes as an In/Or filter), one per-key Window pass, the
    # B-payload lookup joins the reduced side — never a theta join
    "ts_cep_funnel": (
        ["PushedFilters", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # contiguous chain: lag-chain in ONE Window operator over one Exchange;
    # no join of any kind regardless of pattern length
    "ts_cep_contiguous": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # dim reduction: corr is an aggregate, the combine a pure projection —
    # no window, no extra join beyond the resample pipeline's own
    "dq_dim_reduction": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("explain-audit", cores=4, shuffle_partitions=8)
    failures = []
    for name, (need, forbid) in CHECKS.items():
        df = registry.QUERIES[name](spark, sf_dir)
        p = plan_of(df)
        print(f"\n{'=' * 70}\n{name}\n{'=' * 70}\n{p}")
        for s in need:
            if s not in p:
                failures.append(f"{name}: missing {s!r}")
        for s in forbid:
            if s in p:
                failures.append(f"{name}: forbidden {s!r} present")
    if failures:
        print("\nFAILURES:")
        for f in failures:
            print(" -", f)
        return 1
    print(f"\nall {len(CHECKS)} plan audits passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
