"""Native expectations engine: GE semantics without the GE runtime.

Reference surface being replaced: data_quality/monitoring/spark/
great_expectations_data_quality.py:183-236 (build/add/remove/display +
checkpoint validation). Semantics pinned here against hand-computed truths,
including GE's NULL convention (value expectations skip NULLs), `mostly`
thresholds, strict bounds, and all-occurrences uniqueness counting.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest

from core_spark.operators import expectations as ex


@pytest.fixture(scope="module")
def df(spark):
    pdf = pd.DataFrame(
        {
            "tag": ["a", "a", "b", "b", "c", None],
            "v": [1.0, 2.0, 2.0, 10.0, None, 5.0],
            "lo": [0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        }
    )
    return spark.createDataFrame(pdf)


def _suite(*cfgs):
    s = ex.ExpectationSuite("t")
    for t, k in cfgs:
        s.add_expectation(ex.build_expectation(t, k))
    return s


def _one(df, t, k):
    res = ex.validate(df, _suite((t, k)))
    return res["results"][0]


def test_not_null_and_null(df):
    r = _one(df, "expect_column_values_to_not_be_null", {"column": "tag"})
    assert not r["success"] and r["result"]["unexpected_count"] == 1
    r = _one(
        df, "expect_column_values_to_not_be_null", {"column": "tag", "mostly": 0.8}
    )
    assert r["success"]  # 5/6 ≈ 0.833 ≥ 0.8
    r = _one(df, "expect_column_values_to_be_null", {"column": "v"})
    assert r["result"]["unexpected_count"] == 5


def test_between_null_skip_and_strict(df):
    # NULL v is skipped (GE convention): unexpected = only 10.0
    r = _one(
        df,
        "expect_column_values_to_be_between",
        {"column": "v", "min_value": 0, "max_value": 5},
    )
    assert r["result"]["unexpected_count"] == 1 and not r["success"]
    # strict_max flips 5.0 to unexpected too
    r = _one(
        df,
        "expect_column_values_to_be_between",
        {"column": "v", "min_value": 0, "max_value": 5, "strict_max": True},
    )
    assert r["result"]["unexpected_count"] == 2
    # unbounded max
    r = _one(df, "expect_column_values_to_be_between", {"column": "v", "min_value": 0})
    assert r["success"]


def test_sets_regex_lengths(df):
    r = _one(
        df, "expect_column_values_to_be_in_set", {"column": "tag", "value_set": ["a", "b"]}
    )
    assert r["result"]["unexpected_count"] == 1  # 'c'; NULL skipped
    r = _one(
        df, "expect_column_values_to_not_be_in_set", {"column": "tag", "value_set": ["c"]}
    )
    assert r["result"]["unexpected_count"] == 1
    r = _one(df, "expect_column_values_to_match_regex", {"column": "tag", "regex": "^[ab]$"})
    assert r["result"]["unexpected_count"] == 1
    r = _one(
        df,
        "expect_column_value_lengths_to_be_between",
        {"column": "tag", "min_value": 1, "max_value": 1},
    )
    assert r["success"]


def test_pair_greater_than(df):
    r = _one(
        df,
        "expect_column_pair_values_a_to_be_greater_than_b",
        {"column_A": "v", "column_B": "lo"},
    )
    assert r["success"]  # NULL v row skipped, all others > 0


def test_aggregates_and_rowcount(df):
    r = _one(
        df,
        "expect_column_mean_to_be_between",
        {"column": "v", "min_value": 3.9, "max_value": 4.1},
    )
    assert r["success"] and r["result"]["observed_value"] == 4.0
    r = _one(
        df,
        "expect_table_row_count_to_be_between",
        {"min_value": 6, "max_value": 6},
    )
    assert r["success"] and r["result"]["observed_value"] == 6
    r = _one(df, "expect_column_sum_to_be_between", {"column": "v", "min_value": 21})
    assert not r["success"]  # sum = 20


def test_uniqueness_counts_all_occurrences(df):
    # tag 'a' x2 and 'b' x2 -> 4 unexpected rows (every occurrence counts)
    r = _one(df, "expect_column_values_to_be_unique", {"column": "tag"})
    assert r["result"]["unexpected_count"] == 4 and not r["success"]
    r = _one(
        df,
        "expect_compound_columns_to_be_unique",
        {"column_list": ["tag", "v"]},
    )
    assert r["success"]  # (a,1),(a,2),(b,2),(b,10),(c,NULL),(NULL,5) distinct


def test_schema_checks(df):
    r = _one(df, "expect_column_to_exist", {"column": "v"})
    assert r["success"]
    r = _one(df, "expect_column_to_exist", {"column": "nope"})
    assert not r["success"]
    r = _one(df, "expect_column_values_to_be_of_type", {"column": "v", "type_": "double"})
    assert r["success"]
    r = _one(df, "expect_table_column_count_to_equal", {"value": 3})
    assert r["success"]


def test_suite_management_verbs(df):
    s = _suite(
        ("expect_column_values_to_not_be_null", {"column": "tag"}),
        ("expect_column_values_to_be_between", {"column": "v", "min_value": 0}),
    )
    shown = s.show_expectations_by_expectation_type()
    assert [d["expectation_type"] for d in shown] == sorted(
        d["expectation_type"] for d in shown
    )
    s.remove_expectation(
        ex.build_expectation("expect_column_values_to_not_be_null", {"column": "tag"})
    )
    assert len(s.expectations) == 1
    with pytest.raises(ValueError):
        s.remove_expectation(
            ex.build_expectation("expect_column_values_to_not_be_null", {"column": "x"})
        )
    with pytest.raises(ValueError):
        s.add_expectation(ex.build_expectation("expect_bogus", {}))


def test_checkpoint_shape_and_single_pass(df):
    s = _suite(
        ("expect_column_values_to_not_be_null", {"column": "v"}),
        ("expect_column_values_to_be_between", {"column": "v", "min_value": 0}),
        ("expect_column_mean_to_be_between", {"column": "v", "min_value": 0}),
        ("expect_table_row_count_to_be_between", {"min_value": 1}),
    )
    res = ex.validate(df, s)
    assert set(res) == {"success", "results", "statistics"}
    st = res["statistics"]
    assert st["evaluated_expectations"] == 4
    assert st["successful_expectations"] + st["unsuccessful_expectations"] == 4
    assert len(res["results"]) == 4
    for r in res["results"]:
        assert set(r) == {"expectation_config", "success", "result"}


def test_validate_df_matches_dict(df):
    s = _suite(
        ("expect_column_values_to_not_be_null", {"column": "tag"}),
        ("expect_column_values_to_be_unique", {"column": "tag"}),
        ("expect_column_max_to_be_between", {"column": "v", "max_value": 10}),
    )
    out = ex.validate_df(df, s).orderBy("idx").collect()
    res = ex.validate(df, s)
    assert len(out) == 3
    assert [r["success"] for r in out] == [r["success"] for r in res["results"]]
    assert out[0]["unexpected_count"] == 1
    assert out[1]["unexpected_count"] == 4
    assert out[2]["observed_value"] == 10.0


def test_quarantine_split_tags_and_partitions(df):
    s = _suite(
        ("expect_column_values_to_not_be_null", {"column": "tag"}),
        ("expect_column_values_to_be_between", {"column": "v", "max_value": 5}),
        # aggregate expectations don't gate rows
        ("expect_column_mean_to_be_between", {"column": "v", "min_value": 0}),
    )
    good, bad = ex.quarantine_split(df, s)
    g, b = good.toPandas(), bad.toPandas()
    assert len(g) + len(b) == 6
    # bad rows: tag NULL (one) and v=10 (one)
    assert len(b) == 2
    fails = {
        tuple(sorted(r)) for r in b["failed_expectations"]
    }
    assert ("expect_column_values_to_not_be_null:tag",) in fails
    assert ("expect_column_values_to_be_between:v",) in fails
    assert "failed_expectations" not in g.columns
    # no row-level expectations -> everything passes, bad is empty w/ column
    g2, b2 = ex.quarantine_split(
        df, _suite(("expect_column_mean_to_be_between", {"column": "v", "min_value": 0}))
    )
    assert b2.count() == 0 and "failed_expectations" in b2.columns
    assert g2.count() == 6


def test_quarantine_split_is_narrow_plan(df):
    # the gate must be a pure projection+filter: no Exchange, no UDF eval
    s = _suite(("expect_column_values_to_be_between", {"column": "v", "max_value": 5}))
    good, bad = ex.quarantine_split(df, s)
    for side in (good, bad):
        plan = side._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_quarantine_split_on_stream(spark, tmp_path, df):
    # identical gate compiles on a streaming frame (no batch-only ops)
    p = str(tmp_path / "in")
    df.coalesce(1).write.parquet(p)
    sdf = spark.readStream.schema(df.schema).parquet(p)
    s = _suite(("expect_column_values_to_not_be_null", {"column": "tag"}))
    good, bad = ex.quarantine_split(sdf, s)
    assert good.isStreaming and bad.isStreaming
    q = (
        bad.writeStream.format("memory")
        .queryName("t_exp_quarantine")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_exp_quarantine").toPandas()
    assert len(got) == 1 and got.iloc[0]["failed_expectations"] == [
        "expect_column_values_to_not_be_null:tag"
    ]


def test_uniqueness_skips_null_keys(spark):
    # GE convention: NULL keys are skipped, not duplicates of each other
    pdf = pd.DataFrame({"k": [None, None, "x", "y"], "v": [1.0, 2.0, 3.0, 3.0]})
    df2 = spark.createDataFrame(pdf)
    r = _one(df2, "expect_column_values_to_be_unique", {"column": "k"})
    assert r["success"] and r["result"]["unexpected_count"] == 0
    # compound: only all-NULL tuples are skipped (GE default ignore_row_if)
    r = _one(df2, "expect_compound_columns_to_be_unique", {"column_list": ["k", "v"]})
    assert r["success"]
    pdf3 = pd.DataFrame({"k": [None, None], "v": [1.0, 1.0]})
    r = _one(
        spark.createDataFrame(pdf3),
        "expect_compound_columns_to_be_unique",
        {"column_list": ["k", "v"]},
    )
    # (NULL, 1.0) twice: not all-missing -> counted as duplicates
    assert not r["success"] and r["result"]["unexpected_count"] == 2


def test_schema_only_suite_runs_no_job(spark, df):
    from pyspark.sql import functions as F

    # a df whose evaluation would throw: schema checks must not trigger it
    bomb = df.withColumn("boom", F.assert_true(F.lit(False)))
    s = _suite(
        ("expect_column_to_exist", {"column": "boom"}),
        ("expect_table_column_count_to_equal", {"value": 4}),
    )
    res = ex.validate(bomb, s)  # would raise if any job ran
    assert res["success"]


def test_find_iceberg_jar_version_order(tmp_path, monkeypatch):
    from core_spark.streaming import iceberg as ice

    jars = tmp_path / "jars"
    jars.mkdir()
    for name in (
        "iceberg-spark-runtime-3.5_2.12-1.9.1.jar",
        "iceberg-spark-runtime-3.5_2.12-1.10.0.jar",
    ):
        (jars / name).write_bytes(b"jar")
    monkeypatch.setattr(ice, "_REPO_ROOT", str(tmp_path))
    monkeypatch.delenv("ICEBERG_JAR", raising=False)
    got = ice.find_iceberg_jar()
    assert got is not None and got.endswith("1.10.0.jar")


def test_find_iceberg_jar_prefers_running_spark_line(tmp_path, monkeypatch):
    import pyspark

    from core_spark.streaming import iceberg as ice

    line = ".".join(pyspark.__version__.split(".")[:2])
    jars = tmp_path / "jars"
    jars.mkdir()
    # a NEWER Iceberg built for a DIFFERENT Spark line must lose to the
    # running line's jar (an incompatible runtime degrades to the skip)
    (jars / "iceberg-spark-runtime-9.9_2.13-1.99.0.jar").write_bytes(b"jar")
    (jars / f"iceberg-spark-runtime-{line}_2.13-1.4.0.jar").write_bytes(b"jar")
    (jars / f"iceberg-spark-runtime-{line}_2.13-1.10.1.jar").write_bytes(b"jar")
    monkeypatch.setattr(ice, "_REPO_ROOT", str(tmp_path))
    monkeypatch.delenv("ICEBERG_JAR", raising=False)
    got = ice.find_iceberg_jar()
    assert got is not None
    assert f"-{line}_" in got and got.endswith("1.10.1.jar")


def test_quantile_expectation(df):
    r = _one(
        df,
        "expect_column_quantile_values_to_be_between",
        {
            "column": "v",
            "quantile_ranges": {
                "quantiles": [0.0, 0.5, 1.0],
                "value_ranges": [[1.0, 1.0], [2.0, 2.0], [None, 10.0]],
            },
        },
    )
    # v (nulls skipped by percentile) = [1,2,2,5,10]: q0=1, q.5=2, q1=10
    assert r["success"]
    assert r["result"]["observed_value"] == [1.0, 2.0, 10.0]
    r = _one(
        df,
        "expect_column_quantile_values_to_be_between",
        {
            "column": "v",
            "quantile_ranges": {
                "quantiles": [1.0],
                "value_ranges": [[None, 9.0]],
            },
        },
    )
    assert not r["success"]


def test_median_and_proportion_of_unique(df):
    # v non-null sorted = [1,2,2,5,10] -> interpolated median 2.0
    r = _one(
        df,
        "expect_column_median_to_be_between",
        {"column": "v", "min_value": 2, "max_value": 2},
    )
    assert r["success"] and r["result"]["observed_value"] == 2.0
    # distinct {1,2,5,10} = 4 over 5 non-null -> 0.8
    r = _one(
        df,
        "expect_column_proportion_of_unique_values_to_be_between",
        {"column": "v", "min_value": 0.79, "max_value": 0.81},
    )
    assert r["success"] and abs(r["result"]["observed_value"] - 0.8) < 1e-12
    r = _one(
        df,
        "expect_column_proportion_of_unique_values_to_be_between",
        {"column": "v", "min_value": 0.9},
    )
    assert not r["success"]


def test_most_common_value_in_set(df):
    # tag counts: a=2, b=2, c=1 -> modes [a, b] (ties sorted)
    # GE semantics: without ties_okay, TIED data always fails — success
    # requires a single untied mode that is in the set
    r = _one(
        df,
        "expect_column_most_common_value_to_be_in_set",
        {"column": "tag", "value_set": ["a", "b"]},
    )
    assert not r["success"]
    assert r["result"]["observed_value"] == ["a", "b"]
    # ties_okay: ANY mode in the set suffices
    r = _one(
        df,
        "expect_column_most_common_value_to_be_in_set",
        {"column": "tag", "value_set": ["a"], "ties_okay": True},
    )
    assert r["success"]
    # ties_okay with no tied mode in the set fails
    r = _one(
        df,
        "expect_column_most_common_value_to_be_in_set",
        {"column": "tag", "value_set": ["c"], "ties_okay": True},
    )
    assert not r["success"]


def test_monotonic_increasing_decreasing(spark):
    pdf = pd.DataFrame(
        {
            "o": list(range(8)),
            "x": [1.0, 2.0, 2.0, None, 3.0, 2.5, 4.0, 5.0],
        }
    )
    df2 = spark.createDataFrame(pdf)
    # non-null seq 1,2,2,3,2.5,4,5: one non-strict violation (2.5 < 3)
    r = _one(
        df2,
        "expect_column_values_to_be_increasing",
        {"column": "x", "order_by": "o"},
    )
    assert not r["success"]
    assert r["result"]["unexpected_count"] == 1
    assert r["result"]["missing_count"] == 1
    # strictly adds the 2 == 2 pair
    r = _one(
        df2,
        "expect_column_values_to_be_increasing",
        {"column": "x", "order_by": "o", "strictly": True},
    )
    assert r["result"]["unexpected_count"] == 2
    # mostly over the 7 non-null rows: 1 - 1/7 = 0.857 >= 0.8
    r = _one(
        df2,
        "expect_column_values_to_be_increasing",
        {"column": "x", "order_by": "o", "mostly": 0.8},
    )
    assert r["success"]
    pdf2 = pd.DataFrame({"o": range(4), "x": [5.0, 4.0, 4.0, 1.0]})
    df3 = spark.createDataFrame(pdf2)
    r = _one(
        df3,
        "expect_column_values_to_be_decreasing",
        {"column": "x", "order_by": "o"},
    )
    assert r["success"]
    r = _one(
        df3,
        "expect_column_values_to_be_decreasing",
        {"column": "x", "order_by": "o", "strictly": True},
    )
    assert not r["success"] and r["result"]["unexpected_count"] == 1
    # a distributed frame has no intrinsic order: order_by is required
    with pytest.raises(ValueError, match="order_by"):
        _one(df3, "expect_column_values_to_be_increasing", {"column": "x"})


def test_monotonic_plan_is_range_partitioned_not_global(spark):
    # the 100-TB shape: a RANGE exchange + per-partition sort, never the
    # single-partition global-window plan (which serializes the whole
    # column through one task)
    pdf = pd.DataFrame({"o": range(100), "x": [float(i) for i in range(100)]})
    df2 = spark.createDataFrame(pdf)
    plan = (
        ex._monotonic_summaries(df2, "x", "o")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan


def test_monotonic_counts_partition_boundaries_exactly_once(spark):
    # scattered input, many range partitions: a perfectly sorted sequence
    # must report ZERO violations (each boundary pair counted 0 times) and
    # a single planted dip exactly one
    n = 5000
    pdf = pd.DataFrame({"o": range(n), "x": [float(i) for i in range(n)]})
    r = _one(
        spark.createDataFrame(pdf).repartition(16),
        "expect_column_values_to_be_increasing",
        {"column": "x", "order_by": "o"},
    )
    assert r["success"] and r["result"]["unexpected_count"] == 0
    pdf.loc[2500, "x"] = -1.0
    r = _one(
        spark.createDataFrame(pdf).repartition(16),
        "expect_column_values_to_be_increasing",
        {"column": "x", "order_by": "o"},
    )
    assert r["result"]["unexpected_count"] == 1


def test_value_lengths_equal_and_pair_equal(spark):
    pdf = pd.DataFrame(
        {
            "s": ["ab", "cd", "xyz", None],
            "a": [1.0, 2.0, None, None],
            "b": [1.0, 3.0, None, 4.0],
        }
    )
    df2 = spark.createDataFrame(pdf)
    r = _one(
        df2, "expect_column_value_lengths_to_equal", {"column": "s", "value": 2}
    )
    assert r["result"]["unexpected_count"] == 1  # 'xyz'; NULL skipped
    assert r["result"]["missing_count"] == 1
    # pair equal: (1,1) ok, (2,3) bad, (NULL,NULL) skipped, (NULL,4) bad
    r = _one(
        df2,
        "expect_column_pair_values_to_be_equal",
        {"column_A": "a", "column_B": "b"},
    )
    assert r["result"]["unexpected_count"] == 2
    assert r["result"]["missing_count"] == 1


def test_multicolumn_sum_to_equal(spark):
    pdf = pd.DataFrame(
        {
            "x": [1.0, 2.0, None, None],
            "y": [9.0, 8.0, 10.0, None],
        }
    )
    df2 = spark.createDataFrame(pdf)
    r = _one(
        df2,
        "expect_multicolumn_sum_to_equal",
        {"column_list": ["x", "y"], "sum_total": 10},
    )
    # rows: 10 ok, 10 ok, partial-NULL bad, all-NULL skipped
    assert r["result"]["unexpected_count"] == 1
    assert r["result"]["missing_count"] == 1
    assert not r["success"]


def test_distinct_value_expectations(df):
    # tag distinct non-null = {a, b, c}
    r = _one(
        df,
        "expect_column_unique_value_count_to_be_between",
        {"column": "tag", "min_value": 3, "max_value": 3},
    )
    assert r["success"] and r["result"]["observed_value"] == 3
    r = _one(
        df,
        "expect_column_distinct_values_to_be_in_set",
        {"column": "tag", "value_set": ["a", "b", "c", "d"]},
    )
    assert r["success"]
    r = _one(
        df,
        "expect_column_distinct_values_to_be_in_set",
        {"column": "tag", "value_set": ["a", "b"]},
    )
    assert not r["success"]
    assert r["result"]["observed_value"] == ["c"]  # the offending value
    r = _one(
        df,
        "expect_column_distinct_values_to_contain_set",
        {"column": "tag", "value_set": ["a", "c"]},
    )
    assert r["success"] and r["result"]["observed_value"] == ["a", "c"]
    r = _one(
        df,
        "expect_column_distinct_values_to_contain_set",
        {"column": "tag", "value_set": ["a", "z"]},
    )
    assert not r["success"]
    r = _one(
        df,
        "expect_column_distinct_values_to_equal_set",
        {"column": "tag", "value_set": ["a", "b", "c"]},
    )
    assert r["success"]
    r = _one(
        df,
        "expect_column_distinct_values_to_equal_set",
        {"column": "tag", "value_set": ["a", "b", "c", "d"]},
    )
    assert not r["success"]  # d never observed
    r = _one(
        df,
        "expect_column_distinct_values_to_equal_set",
        {"column": "tag", "value_set": ["a", "b"]},
    )
    assert not r["success"]  # c outside the set


def test_mostly_denominator_is_nonnull_count(spark):
    # GE convention: success and unexpected_percent are computed over the
    # NON-null element count. 20 rows, 10 NULL, 2 bad of 10 non-null with
    # mostly=0.9: a total-count denominator reads 2/20 = 10% bad and PASSES;
    # GE reads 2/10 = 20% bad and FAILS — the r03 divergence, pinned here.
    pdf = pd.DataFrame({"x": [0.0] * 8 + [99.0] * 2 + [None] * 10})
    df2 = spark.createDataFrame(pdf)
    r = _one(
        df2,
        "expect_column_values_to_be_between",
        {"column": "x", "max_value": 1, "mostly": 0.9},
    )
    assert not r["success"]
    assert r["result"]["element_count"] == 20
    assert r["result"]["missing_count"] == 10
    assert r["result"]["missing_percent"] == 50.0
    assert r["result"]["unexpected_count"] == 2
    assert r["result"]["unexpected_percent"] == 20.0
    # all-NULL column is vacuously successful (GE behavior)
    allnull = spark.createDataFrame(
        pd.DataFrame({"x": [None, None]}), "x double"
    )
    r = _one(
        allnull, "expect_column_values_to_be_between", {"column": "x", "max_value": 1}
    )
    assert r["success"] and r["result"]["missing_count"] == 2
    # null checks themselves never skip: denominator stays element_count
    r = _one(
        df2, "expect_column_values_to_not_be_null", {"column": "x", "mostly": 0.5}
    )
    assert r["success"] and r["result"]["missing_count"] == 0
    assert r["result"]["unexpected_percent"] == 50.0


def test_uniqueness_reports_null_keys_as_missing(spark):
    pdf = pd.DataFrame({"k": [None, None, "x", "x", "y"], "v": range(5)})
    df2 = spark.createDataFrame(pdf)
    r = _one(df2, "expect_column_values_to_be_unique", {"column": "k"})
    assert r["result"]["element_count"] == 5
    assert r["result"]["missing_count"] == 2
    assert r["result"]["unexpected_count"] == 2  # both 'x' occurrences
    # mostly over non-null: 1 - 2/3 < 0.9 fails; 2/5 would pass 0.6
    r = _one(
        df2, "expect_column_values_to_be_unique", {"column": "k", "mostly": 0.6}
    )
    assert not r["success"]


def test_profile_suite_self_validates_and_detects_drift(spark):
    pdf = pd.DataFrame(
        {
            "cat": ["a", "b", "a", "c"] * 5,
            "num": [float(i) for i in range(20)],
            "free": [f"text-{i}" for i in range(20)],  # high cardinality
        }
    )
    df2 = spark.createDataFrame(pdf)
    s = ex.profile_suite(df2, set_cardinality_max=5)
    # self-validation passes by construction
    res = ex.validate(df2, s)
    assert res["success"], [r for r in res["results"] if not r["success"]]
    types = [e.expectation_type for e in s.expectations]
    assert "expect_column_values_to_be_in_set" in types  # cat profiled
    # free-text column must NOT get an in-set pin
    in_set_cols = {
        e.kwargs["column"]
        for e in s.expectations
        if e.expectation_type == "expect_column_values_to_be_in_set"
    }
    assert in_set_cols == {"cat"}
    # drifted batch: unseen category, out-of-range numeric, new NULL
    drift = pd.DataFrame(
        {"cat": ["zzz"], "num": [999.0], "free": [None]}
    )
    res2 = ex.validate(spark.createDataFrame(drift, df2.schema), s)
    failed = {
        (r["expectation_config"]["expectation_type"],
         r["expectation_config"]["kwargs"].get("column"))
        for r in res2["results"]
        if not r["success"]
    }
    assert ("expect_column_values_to_be_in_set", "cat") in failed
    assert ("expect_column_values_to_be_between", "num") in failed
    assert ("expect_column_values_to_not_be_null", "free") in failed


def test_profile_suite_respects_column_subset(spark, df):
    s = ex.profile_suite(df, columns=["v"])
    cols = {e.kwargs.get("column") for e in s.expectations} - {None}
    assert cols == {"v"}
    # v has NULLs -> no not-null pin; numeric -> between pin present
    types = [e.expectation_type for e in s.expectations]
    assert "expect_column_values_to_not_be_null" not in types
    assert "expect_column_values_to_be_between" in types


def test_iceberg_merge_sql_shapes():
    # jar-free guard on the MERGE text the jar-gated suite executes live
    from core_spark.streaming.sink import MergeSink

    plain = MergeSink("/tmp/x", ["k1", "k2"])
    sql = plain.iceberg_merge_sql("cat.db.t", "src")
    assert sql.startswith("MERGE INTO cat.db.t t USING src s ON ")
    assert "t.k1 = s.k1 AND t.k2 = s.k2" in sql
    assert "WHEN MATCHED THEN UPDATE SET *" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql

    cdc = MergeSink("/tmp/x", ["k"], op_col="op", delete_value="del")
    sql = cdc.iceberg_merge_sql("cat.db.t", "src", data_cols=["k", "v"])
    assert "WHEN MATCHED AND s.op = 'del' THEN DELETE" in sql
    assert "WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v" in sql
    assert "WHEN NOT MATCHED AND s.op <> 'del' THEN INSERT (k, v) VALUES (s.k, s.v)" in sql
    import pytest as _pytest

    with _pytest.raises(ValueError, match="data_cols"):
        cdc.iceberg_merge_sql("cat.db.t", "src")


def test_chi2_sf_matches_published_tables():
    # standard chi-square critical values: sf(crit, df) == alpha
    for crit, dof, alpha in [
        (3.841458820694124, 1, 0.05),
        (5.991464547107979, 2, 0.05),
        (7.814727903251179, 3, 0.05),
        (9.487729036781154, 4, 0.05),
        (6.634896601021213, 1, 0.01),
        (13.276704135987622, 4, 0.01),
    ]:
        assert abs(ex._chi2_sf(crit, dof) - alpha) < 1e-9
    assert ex._chi2_sf(0.0, 3) == 1.0
    assert ex._chi2_sf(1000.0, 3) < 1e-100


def test_kl_divergence_expectation(spark):
    import math

    # observed: a x6, b x2, c x2 -> p = (.6, .2, .2)
    pdf = pd.DataFrame({"cat": ["a"] * 6 + ["b"] * 2 + ["c"] * 2})
    df2 = spark.createDataFrame(pdf)
    po = {"values": ["a", "b", "c"], "weights": [1 / 3, 1 / 3, 1 / 3]}
    expected_kl = (
        0.6 * math.log(0.6 / (1 / 3)) + 2 * 0.2 * math.log(0.2 / (1 / 3))
    )
    r = _one(
        df2,
        "expect_column_kl_divergence_to_be_less_than",
        {"column": "cat", "partition_object": po, "threshold": expected_kl + 0.01},
    )
    assert r["success"]
    assert abs(r["result"]["observed_value"] - expected_kl) < 1e-12
    r = _one(
        df2,
        "expect_column_kl_divergence_to_be_less_than",
        {"column": "cat", "partition_object": po, "threshold": expected_kl - 0.01},
    )
    assert not r["success"]
    # observed category outside the expected partition: automatic failure
    r = _one(
        df2,
        "expect_column_kl_divergence_to_be_less_than",
        {"column": "cat",
         "partition_object": {"values": ["a", "b"], "weights": [0.5, 0.5]},
         "threshold": 100.0},
    )
    assert not r["success"]
    assert r["result"]["details"]["values_outside_partition"] == ["c"]


def test_chisquare_expectation(spark):
    # perfectly matching distribution: stat 0, p-value 1
    pdf = pd.DataFrame({"cat": ["a"] * 50 + ["b"] * 50})
    df2 = spark.createDataFrame(pdf)
    po = {"values": ["a", "b"], "weights": [0.5, 0.5]}
    r = _one(
        df2,
        "expect_column_chisquare_test_p_value_to_be_greater_than",
        {"column": "cat", "partition_object": po, "p": 0.05},
    )
    assert r["success"]
    assert r["result"]["observed_value"] == 1.0
    assert r["result"]["test_statistic"] == 0.0
    # skewed 80/20 vs expected 50/50, n=100: stat = (30^2/50)*2 = 36,
    # p = sf(36, 1) ~ 2e-9 -> fails
    pdf = pd.DataFrame({"cat": ["a"] * 80 + ["b"] * 20})
    r = _one(
        spark.createDataFrame(pdf),
        "expect_column_chisquare_test_p_value_to_be_greater_than",
        {"column": "cat", "partition_object": po, "p": 0.05},
    )
    assert not r["success"]
    assert abs(r["result"]["test_statistic"] - 36.0) < 1e-9
    # expected category never observed still contributes q*n to the stat
    po3 = {"values": ["a", "b", "z"], "weights": [0.4, 0.4, 0.2]}
    r = _one(
        spark.createDataFrame(pdf),
        "expect_column_chisquare_test_p_value_to_be_greater_than",
        {"column": "cat", "partition_object": po3, "p": 0.05},
    )
    assert not r["success"]
    assert r["result"]["degrees_of_freedom"] == 2


def test_ks_sf_known_values():
    # Q_KS at its alpha=0.05 critical value, and limits
    assert abs(ex._ks_sf(ex.KS_CRITICAL_05) - 0.05) < 1e-12
    assert ex._ks_sf(0.0) == 1.0
    assert ex._ks_sf(5.0) < 1e-20
    # published: Q_KS(1.2238) ~ 0.10 (alpha=0.10 critical value 1.2238...)
    assert abs(ex._ks_sf(1.2238478701970748) - 0.10) < 1e-9


def test_ks_expectation_pass_and_fail(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    xs = rng.uniform(0.0, 10.0, 2000)
    df2 = spark.createDataFrame(pd.DataFrame({"x": xs}))
    po = {"bins": [0.0, 2.5, 5.0, 7.5, 10.0], "weights": [0.25] * 4}
    r = _one(
        df2,
        "expect_column_ks_test_p_value_to_be_greater_than",
        {"column": "x", "partition_object": po, "p": 0.05},
    )
    # uniform data vs uniform partition: edge ECDFs match to sampling noise
    assert r["success"], r["result"]
    assert r["result"]["test_statistic"] < 0.03
    # the same data against a shifted expected distribution fails hard
    po_bad = {"bins": [0.0, 2.5, 5.0, 7.5, 10.0],
              "weights": [0.7, 0.1, 0.1, 0.1]}
    r = _one(
        df2,
        "expect_column_ks_test_p_value_to_be_greater_than",
        {"column": "x", "partition_object": po_bad, "p": 0.05},
    )
    assert not r["success"]
    assert r["result"]["observed_value"] < 1e-6
    # hand-check D: at edge 2.5 expected CDF 0.7, observed ~0.25
    assert abs(r["result"]["test_statistic"] - 0.45) < 0.03
    # NULLs are excluded from n; all-NULL is vacuously successful
    allnull = spark.createDataFrame(
        pd.DataFrame({"x": [None, None]}), "x double"
    )
    r = _one(
        allnull,
        "expect_column_ks_test_p_value_to_be_greater_than",
        {"column": "x", "partition_object": po, "p": 0.05},
    )
    assert r["success"] and r["result"]["observed_value"] == 1.0
    with pytest.raises(ValueError, match="bins"):
        _one(
            df2,
            "expect_column_ks_test_p_value_to_be_greater_than",
            {"column": "x",
             "partition_object": {"bins": [0.0, 1.0], "weights": [0.5, 0.5]},
             "p": 0.05},
        )


def test_monotonic_directions_share_one_pass(spark):
    # a suite with all four direction/strictness forms over the same
    # ordering: the summaries carry every count, and each expectation
    # reads its own — results must match the serial reference
    pdf = pd.DataFrame(
        {"o": range(6), "x": [1.0, 2.0, 2.0, 1.5, 3.0, 3.0]}
    )
    df2 = spark.createDataFrame(pdf).repartition(4)
    s = ex.ExpectationSuite("m")
    for t, strictly in [
        ("expect_column_values_to_be_increasing", False),
        ("expect_column_values_to_be_increasing", True),
        ("expect_column_values_to_be_decreasing", False),
        ("expect_column_values_to_be_decreasing", True),
    ]:
        s.add_expectation(
            ex.build_expectation(
                t, {"column": "x", "order_by": "o", "strictly": strictly}
            )
        )
    res = ex.validate(df2, s)
    got = [r["result"]["unexpected_count"] for r in res["results"]]
    # pairs: (1,2)(2,2)(2,1.5)(1.5,3)(3,3)
    # inc: 1.5<2 -> 1; inc strict: +(2,2)+(3,3) -> 3
    # dec: rises at (1,2),(1.5,3) -> 2; dec strict: +(2,2)+(3,3) -> 4
    assert got == [1, 3, 2, 4]


def test_profile_suite_drift_contracts(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "num": rng.normal(50.0, 10.0, 3000),
            "cat": rng.choice(["a", "b", "c"], 3000, p=[0.6, 0.3, 0.1]),
            "coarse": rng.integers(0, 5, 3000).astype(float),  # 5 atoms
        }
    )
    df2 = spark.createDataFrame(pdf)
    s = ex.profile_suite(df2, drift=True, set_cardinality_max=5)
    types = [(e.expectation_type, e.kwargs.get("column")) for e in s.expectations]
    # continuous numeric gets a KS contract; the 5-atom column must NOT
    # (binned KS is ill-posed on heavy atoms)
    assert ("expect_column_ks_test_p_value_to_be_greater_than", "num") in types
    assert (
        "expect_column_ks_test_p_value_to_be_greater_than", "coarse"
    ) not in types
    # categorical gets a KL contract at the observed mix
    assert ("expect_column_kl_divergence_to_be_less_than", "cat") in types
    # self-validation passes by construction
    res = ex.validate(df2, s)
    assert res["success"], [
        (r["expectation_config"]["expectation_type"],
         r["expectation_config"]["kwargs"].get("column"), r["result"])
        for r in res["results"] if not r["success"]
    ]
    # a SHIFTED numeric distribution fails the KS contract even though it
    # stays inside the learned [min, max] range
    mn, mx = float(pdf["num"].min()), float(pdf["num"].max())
    drifted = pd.DataFrame(
        {
            "num": np.clip(rng.normal(62.0, 10.0, 3000), mn, mx),
            "cat": pdf["cat"],
            "coarse": pdf["coarse"],
        }
    )
    res2 = ex.validate(spark.createDataFrame(drifted, df2.schema), s)
    failed = {
        (r["expectation_config"]["expectation_type"],
         r["expectation_config"]["kwargs"].get("column"))
        for r in res2["results"] if not r["success"]
    }
    assert ("expect_column_ks_test_p_value_to_be_greater_than", "num") in failed
    # a SKEWED category mix (same categories!) fails KL but not the in-set pin
    skewed = pd.DataFrame(
        {
            "num": pdf["num"],
            "cat": rng.choice(["a", "b", "c"], 3000, p=[0.1, 0.3, 0.6]),
            "coarse": pdf["coarse"],
        }
    )
    res3 = ex.validate(spark.createDataFrame(skewed, df2.schema), s)
    failed3 = {
        (r["expectation_config"]["expectation_type"],
         r["expectation_config"]["kwargs"].get("column"))
        for r in res3["results"] if not r["success"]
    }
    assert ("expect_column_kl_divergence_to_be_less_than", "cat") in failed3
    assert ("expect_column_values_to_be_in_set", "cat") not in failed3


# ---------------------------------------------------------------- round 5


def test_mode_tie_collect_is_bounded(spark):
    # near-unique column: EVERY value ties at count 1 — the old collect of
    # all tied modes would pull the full distinct set onto the driver;
    # bounded path caps the sample and decides via executor-side probes
    pdf = pd.DataFrame({"u": [f"v{i:04d}" for i in range(200)]})
    df2 = spark.createDataFrame(pdf)
    # without ties_okay: tied data always fails (GE semantics)
    r = _one(
        df2,
        "expect_column_most_common_value_to_be_in_set",
        {"column": "u", "value_set": ["v0000"]},
    )
    assert not r["success"]
    assert len(r["result"]["observed_value"]) <= ex._MODE_TIE_CAP
    assert r["result"]["details"]["tie_count"] == 200
    assert r["result"]["details"]["observed_value_truncated"]
    # ties_okay + a member anywhere in the tied set (even one the capped
    # sample cannot contain) succeeds via the bounded in-set probe
    r = _one(
        df2,
        "expect_column_most_common_value_to_be_in_set",
        {"column": "u", "value_set": ["v0199"], "ties_okay": True},
    )
    assert r["success"]
    r = _one(
        df2,
        "expect_column_most_common_value_to_be_in_set",
        {"column": "u", "value_set": ["nope"], "ties_okay": True},
    )
    assert not r["success"]


def test_drift_cardinality_guard(spark):
    pdf = pd.DataFrame({"u": [f"v{i:04d}" for i in range(500)]})
    df2 = spark.createDataFrame(pdf)
    s = _suite(
        (
            "expect_column_kl_divergence_to_be_less_than",
            {
                "column": "u",
                "partition_object": {"values": ["a", "b"], "weights": [0.5, 0.5]},
                "threshold": 0.1,
            },
        )
    )
    with pytest.raises(ValueError, match="drift_cardinality_max"):
        ex.validate(df2, s, drift_cardinality_max=100)
    # raising the cap restores the normal (failing: support outside) result
    res = ex.validate(df2, s, drift_cardinality_max=10_000)
    assert not res["results"][0]["success"]


def test_single_category_partition_rejected(spark, df):
    with pytest.raises(ValueError, match="at least 2 values"):
        _one(
            df,
            "expect_column_chisquare_test_p_value_to_be_greater_than",
            {
                "column": "tag",
                "partition_object": {"values": ["a"], "weights": [1.0]},
                "p": 0.05,
            },
        )


def test_distinct_in_set_failure_examples_bounded(spark):
    # failing high-cardinality column: examples are the 20 smallest
    # offending distinct values, gathered by the failure-path job only
    pdf = pd.DataFrame({"u": ["ok"] * 5 + [f"bad{i:03d}" for i in range(50)]})
    df2 = spark.createDataFrame(pdf)
    r = _one(
        df2,
        "expect_column_distinct_values_to_be_in_set",
        {"column": "u", "value_set": ["ok"]},
    )
    assert not r["success"]
    assert r["result"]["unexpected_count"] == 50
    assert r["result"]["observed_value"] == [f"bad{i:03d}" for i in range(20)]
    # success path gathers no examples
    r = _one(
        df2.filter("u = 'ok'"),
        "expect_column_distinct_values_to_be_in_set",
        {"column": "u", "value_set": ["ok"]},
    )
    assert r["success"] and r["result"]["observed_value"] == []


def test_monotonic_tied_order_keys_deterministic(spark):
    # duplicate order_by keys: the engine's documented tie convention is
    # ascending value order within a tie — the violation count must match
    # the pandas reference under the same (o, v) sort, and must be stable
    # across shuffles/partitionings
    import numpy as np

    rng = np.random.default_rng(11)
    for trial in range(6):
        o = rng.integers(0, 5, 40)
        v = rng.integers(0, 4, 40).astype(float)
        pdf = pd.DataFrame({"o": o, "v": v})
        ref = pdf.sort_values(["o", "v"], kind="mergesort").reset_index(drop=True)
        exp = {}
        for strictly in (False, True):
            cur, prev = ref["v"].values[1:], ref["v"].values[:-1]
            exp[("inc", strictly)] = int(
                (cur <= prev).sum() if strictly else (cur < prev).sum()
            )
            exp[("dec", strictly)] = int(
                (cur >= prev).sum() if strictly else (cur > prev).sum()
            )
        for parts in (1, 7):
            df2 = spark.createDataFrame(pdf).repartition(parts)
            s = ex.ExpectationSuite("m")
            for t, strictly in [
                ("expect_column_values_to_be_increasing", False),
                ("expect_column_values_to_be_increasing", True),
                ("expect_column_values_to_be_decreasing", False),
                ("expect_column_values_to_be_decreasing", True),
            ]:
                s.add_expectation(
                    ex.build_expectation(
                        t, {"column": "v", "order_by": "o", "strictly": strictly}
                    )
                )
            res = ex.validate(df2, s)
            got = [r["result"]["unexpected_count"] for r in res["results"]]
            want = [
                exp[("inc", False)], exp[("inc", True)],
                exp[("dec", False)], exp[("dec", True)],
            ]
            assert got == want, (trial, parts, got, want)


def test_profile_suite_drops_self_failing_ks_contract(spark):
    # an atom of mass 8% straddling the p40 decile: the old guards
    # (cardinality >= 50, strictly increasing edges) pass, but the learned
    # KS contract fails on the profiled batch itself — profile_suite must
    # self-validate and drop it
    import numpy as np

    rng = np.random.default_rng(3)
    lo = rng.uniform(0.0, 41.9, 1440)
    hi = rng.uniform(42.1, 100.0, 2240)
    xs = np.concatenate([lo, np.full(320, 42.0), hi])
    df2 = spark.createDataFrame(pd.DataFrame({"x": xs}))
    suite = ex.profile_suite(df2, drift=True)
    res = ex.validate(df2, suite)
    assert res["success"], [
        r["expectation_config"]["expectation_type"]
        for r in res["results"] if not r["success"]
    ]
    # and it was genuinely the self-check that removed it: no KS contract
    # on the atom column survives
    assert not [
        e for e in suite.expectations
        if e.expectation_type == "expect_column_ks_test_p_value_to_be_greater_than"
    ]
    # a clean continuous column still earns its KS contract
    clean = spark.createDataFrame(
        pd.DataFrame({"x": rng.uniform(0.0, 100.0, 4000)})
    )
    suite2 = ex.profile_suite(clean, drift=True)
    assert [
        e for e in suite2.expectations
        if e.expectation_type == "expect_column_ks_test_p_value_to_be_greater_than"
    ]
    assert ex.validate(clean, suite2)["success"]


def test_row_condition_scopes_row_level(spark, df):
    # GE parser: col("tag") == "a" restricts the domain to 2 rows
    r = _one(
        df,
        "expect_column_values_to_be_between",
        {
            "column": "v", "min_value": 0, "max_value": 5,
            "row_condition": 'col("tag") == "a"',
            "condition_parser": "great_expectations__experimental__",
        },
    )
    assert r["success"]
    assert r["result"]["element_count"] == 2
    assert r["result"]["unexpected_count"] == 0
    # spark parser: same condition as a Spark SQL expression; v=10 at
    # tag=b violates the bound INSIDE the domain
    r = _one(
        df,
        "expect_column_values_to_be_between",
        {
            "column": "v", "min_value": 0, "max_value": 5,
            "row_condition": "tag = 'b'",
            "condition_parser": "spark",
        },
    )
    assert not r["success"]
    assert r["result"]["element_count"] == 2
    assert r["result"]["unexpected_count"] == 1
    # missing_count is scoped too: the NULL v sits at tag=c
    r = _one(
        df,
        "expect_column_values_to_not_be_null",
        {"column": "v", "row_condition": "tag = 'c'",
         "condition_parser": "spark"},
    )
    assert not r["success"] and r["result"]["element_count"] == 1


def test_row_condition_scopes_aggregates(spark, df):
    # conditioned mean: v over tag='b' -> (2 + 10) / 2 = 6
    r = _one(
        df,
        "expect_column_mean_to_be_between",
        {"column": "v", "min_value": 5.9, "max_value": 6.1,
         "row_condition": "tag = 'b'", "condition_parser": "spark"},
    )
    assert r["success"] and r["result"]["observed_value"] == 6.0
    # conditioned row count
    r = _one(
        df,
        "expect_table_row_count_to_be_between",
        {"min_value": 2, "max_value": 2,
         "row_condition": 'col("tag") == "a"'},
    )
    assert r["success"] and r["result"]["observed_value"] == 2


def test_row_condition_rejected_elsewhere(df):
    with pytest.raises(ValueError, match="row_condition"):
        _one(
            df,
            "expect_column_values_to_be_unique",
            {"column": "tag", "row_condition": "v > 0",
             "condition_parser": "spark"},
        )


def test_row_condition_quarantine_split(spark, df):
    s = _suite(
        (
            "expect_column_values_to_be_between",
            {"column": "v", "min_value": 0, "max_value": 5,
             "row_condition": "tag = 'b'", "condition_parser": "spark"},
        )
    )
    good, bad = ex.quarantine_split(df, s)
    # only the in-domain violator (tag=b, v=10) is quarantined; the
    # out-of-domain v=10... there is none — all other rows pass through
    assert bad.count() == 1
    brow = bad.collect()[0]
    assert brow["tag"] == "b" and brow["v"] == 10.0
    assert good.count() == 5


def test_strftime_format_expectation(spark):
    pdf = pd.DataFrame(
        {"d": ["2024-01-02", "2024-13-40", "02/03/2024", None]}
    )
    df2 = spark.createDataFrame(pdf)
    r = _one(
        df2,
        "expect_column_values_to_match_strftime_format",
        {"column": "d", "strftime_format": "%Y-%m-%d"},
    )
    assert not r["success"]
    assert r["result"]["unexpected_count"] == 2  # bad month + wrong shape
    assert r["result"]["missing_count"] == 1
    r = _one(
        df2,
        "expect_column_values_to_match_strftime_format",
        {"column": "d", "strftime_format": "%m/%d/%Y"},
    )
    assert r["result"]["unexpected_count"] == 2
    with pytest.raises(ValueError, match="strftime"):
        _one(
            df2,
            "expect_column_values_to_match_strftime_format",
            {"column": "d", "strftime_format": "%Q"},
        )
    # %z takes every offset form Python's strptime takes: ±HHMM, ±HH:MM, Z
    fmt = "%Y-%m-%d %H:%M:%S%z"
    zs = ["2024-01-02 03:04:05+0530", "2024-01-02 03:04:05-05:30",
          "2024-01-02 03:04:05Z", "2024-01-02 03:04:05+5", "2024-01-02 03:04:05"]
    ok = []
    for z in zs:
        try:
            datetime.strptime(z, fmt)
            ok.append(True)
        except ValueError:
            ok.append(False)
    assert ok == [True, True, True, False, False]
    r = _one(
        spark.createDataFrame(pd.DataFrame({"d": zs})),
        "expect_column_values_to_match_strftime_format",
        {"column": "d", "strftime_format": fmt},
    )
    assert r["result"]["unexpected_count"] == 2


def test_dateutil_parseable_expectation(spark):
    pdf = pd.DataFrame(
        {
            "d": [
                "2024-01-02T03:04:05",
                "2024-01-02",
                "2024/05/06",
                "01/02/2024",
                "15 Mar 2024",
                "definitely not a date",
                None,
            ]
        }
    )
    df2 = spark.createDataFrame(pdf)
    r = _one(
        df2,
        "expect_column_values_to_be_dateutil_parseable",
        {"column": "d"},
    )
    assert not r["success"]
    assert r["result"]["unexpected_count"] == 1
    assert r["result"]["missing_count"] == 1


def test_strftime_quarantine_split(spark):
    pdf = pd.DataFrame({"d": ["2024-01-02", "garbage", "2024-02-03"]})
    df2 = spark.createDataFrame(pdf)
    s = _suite(
        (
            "expect_column_values_to_match_strftime_format",
            {"column": "d", "strftime_format": "%Y-%m-%d"},
        )
    )
    good, bad = ex.quarantine_split(df2, s)
    assert good.count() == 2 and bad.count() == 1
    assert bad.collect()[0]["d"] == "garbage"


def test_like_patterns(df):
    r = _one(
        df,
        "expect_column_values_to_match_like_pattern",
        {"column": "tag", "like_pattern": "a%"},
    )
    assert not r["success"] and r["result"]["unexpected_count"] == 3  # b,b,c
    r = _one(
        df,
        "expect_column_values_to_not_match_like_pattern",
        {"column": "tag", "like_pattern": "c%"},
    )
    assert not r["success"] and r["result"]["unexpected_count"] == 1


def test_pair_values_in_set(spark):
    pdf = pd.DataFrame(
        {"a": ["x", "x", "y", None], "b": ["1", "2", "1", None]}
    )
    df2 = spark.createDataFrame(pdf)
    r = _one(
        df2,
        "expect_column_pair_values_to_be_in_set",
        {"column_A": "a", "column_B": "b",
         "value_pairs_set": [("x", "1"), ("y", "1")]},
    )
    # (x,2) violates; both-NULL row is skipped (missing)
    assert not r["success"]
    assert r["result"]["unexpected_count"] == 1
    assert r["result"]["missing_count"] == 1


def test_json_parseable(spark):
    pdf = pd.DataFrame({"j": ['{"a": 1}', "[1,2,3]", "not json", None]})
    df2 = spark.createDataFrame(pdf)
    r = _one(
        df2, "expect_column_values_to_be_json_parseable", {"column": "j"}
    )
    assert not r["success"]
    assert r["result"]["unexpected_count"] == 1
    assert r["result"]["missing_count"] == 1


def test_schema_list_and_set_checks(df):
    r = _one(
        df,
        "expect_table_columns_to_match_ordered_list",
        {"column_list": ["tag", "v", "lo"]},
    )
    assert r["success"]
    r = _one(
        df,
        "expect_table_columns_to_match_ordered_list",
        {"column_list": ["v", "tag", "lo"]},
    )
    assert not r["success"]
    r = _one(
        df,
        "expect_table_columns_to_match_set",
        {"column_set": ["lo", "v", "tag"]},
    )
    assert r["success"]
    r = _one(
        df,
        "expect_table_columns_to_match_set",
        {"column_set": ["v"], "exact_match": False},
    )
    assert r["success"]
    r = _one(
        df,
        "expect_table_columns_to_match_set",
        {"column_set": ["v"]},
    )
    assert not r["success"]
    r = _one(
        df,
        "expect_column_values_to_be_in_type_list",
        {"column": "v", "type_list": ["double", "float"]},
    )
    assert r["success"]


def test_zscore_expectation(spark):
    import numpy as np

    xs = [10.0] * 98 + [10.5, 100.0]  # one far outlier
    df2 = spark.createDataFrame(pd.DataFrame({"x": xs}))
    mu, sd = np.mean(xs), np.std(xs, ddof=1)
    # the outlier's |z| is ~9.8; threshold 3 catches exactly it
    assert abs((100.0 - mu) / sd) > 3 > abs((10.5 - mu) / sd)
    r = _one(
        df2,
        "expect_column_value_z_scores_to_be_less_than",
        {"column": "x", "threshold": 3, "double_sided": True},
    )
    assert not r["success"]
    assert r["result"]["unexpected_count"] == 1
    # mostly makes 99/100 pass
    r = _one(
        df2,
        "expect_column_value_z_scores_to_be_less_than",
        {"column": "x", "threshold": 3, "double_sided": True, "mostly": 0.98},
    )
    assert r["success"]
    # single-sided: only z >= t (not -z) counts
    low = spark.createDataFrame(
        pd.DataFrame({"x": [10.0] * 98 + [10.5, -100.0]})
    )
    r = _one(
        low,
        "expect_column_value_z_scores_to_be_less_than",
        {"column": "x", "threshold": 3, "double_sided": False},
    )
    assert r["success"]
    # constant column: z = 0 everywhere, vacuously fine
    const = spark.createDataFrame(pd.DataFrame({"x": [5.0] * 10}))
    r = _one(
        const,
        "expect_column_value_z_scores_to_be_less_than",
        {"column": "x", "threshold": 3},
    )
    assert r["success"]
