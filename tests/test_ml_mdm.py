"""ML feature transformers (core_spark.ml) and the MDM mapping family
(core_spark.mdm): MLlib-parity for polynomial expansion, reference error
contracts, melt/unpivot semantics, and the new OPC-UA / Mirico-metadata /
SSIP-JSON transformers' corner cases."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from core_spark import mdm, ml
from core_spark import transformers as tr


# ----------------------------------------------------------------------- ml


def test_one_hot_explicit_values(spark):
    df = spark.createDataFrame([("a",), ("b",), (None,)], "c string")
    out = ml.one_hot_encode(df, "c", ["a", "b", None]).orderBy("c")
    assert out.columns == ["c", "c_a", "c_b", "c_None"]
    rows = {r["c"]: (r["c_a"], r["c_b"], r["c_None"]) for r in out.collect()}
    assert rows["a"] == (1, 0, 0)
    assert rows["b"] == (0, 1, 0)
    # NULL == value is never true -> all-zero row (reference semantics:
    # one_hot_encoding.py:128-133 uses the same equality)
    assert rows[None] == (0, 0, 0)


def test_one_hot_inferred_values_and_missing_column(spark):
    df = spark.createDataFrame([("x",), ("y",), ("x",)], "c string")
    out = ml.one_hot_encode(df, "c")
    assert sorted(out.columns) == ["c", "c_x", "c_y"]
    with pytest.raises(ValueError, match="does not exist"):
        ml.one_hot_encode(df, "nope")


def test_one_hot_inferred_vocabulary_is_bounded(spark, monkeypatch):
    monkeypatch.setattr(ml, "MAX_INFERRED_VALUES", 3)
    at_bound = spark.createDataFrame([("x",), ("y",), ("z",), ("x",)], "c string")
    assert sorted(ml.one_hot_encode(at_bound, "c").columns) == ["c", "c_x", "c_y", "c_z"]
    over = at_bound.union(spark.createDataFrame([("w",)], "c string"))
    with pytest.raises(ValueError, match="'c' has more than 3 distinct values; pass .*values="):
        ml.one_hot_encode(over, "c")
    # an explicit vocabulary skips the probe, so the bound does not apply
    assert len(ml.one_hot_encode(over, "c", ["w", "x", "y", "z"]).columns) == 5


def test_columns_to_vector_and_override(spark):
    df = spark.createDataFrame([(1.0, 2, "z")], "a double, b int, vec string")
    out = ml.columns_to_vector(df, ["a", "b"], "v")
    assert out.first()["v"] == [1.0, 2.0]
    with pytest.raises(ValueError, match="already exists"):
        ml.columns_to_vector(df, ["a", "b"], "vec")
    out2 = ml.columns_to_vector(df, ["b", "a"], "vec", override_col=True)
    assert out2.first()["vec"] == [2.0, 1.0]
    assert out2.columns == ["a", "b", "vec"]


@pytest.mark.parametrize("n,degree", [(1, 3), (2, 2), (2, 3), (3, 2), (3, 4)])
def test_polynomial_expand_matches_mllib(spark, n, degree):
    """Bit-for-bit parity with pyspark.ml.feature.PolynomialExpansion (the
    implementation the reference wraps, polynomial_features.py:89-110)."""
    from pyspark.ml.feature import PolynomialExpansion
    from pyspark.ml.linalg import Vectors

    vals = [float(p) for p in [2, 3, 5, 7][:n]]
    mldf = spark.createDataFrame([(Vectors.dense(vals),)], ["vec"])
    expect = (
        PolynomialExpansion(degree=degree, inputCol="vec", outputCol="out")
        .transform(mldf)
        .first()["out"]
        .toArray()
        .tolist()
    )
    adf = spark.createDataFrame([(vals,)], "arr array<double>")
    got = ml.polynomial_expand(adf, "arr", "out", degree, n).first()["out"]
    assert got == expect


def test_polynomial_expand_errors(spark):
    df = spark.createDataFrame([([1.0],)], "arr array<double>")
    with pytest.raises(ValueError, match="does not exist"):
        ml.polynomial_expand(df, "nope", "out", 2, 1)
    with pytest.raises(ValueError, match="degree"):
        ml.polynomial_expand(df, "arr", "out", 0, 1)
    with pytest.raises(ValueError, match="already exists"):
        ml.polynomial_expand(df, "arr", "arr", 2, 1)


# ---------------------------------------------------------------------- mdm


def _caiso_df(spark):
    return spark.createDataFrame(
        [("2024-03-01 10:00:00", "AREA1", 123.456)],
        "StartTime string, TacAreaName string, Load double",
    ).withColumn("StartTime", F.col("StartTime").cast("timestamp"))


def test_mdm_usage_schema_and_values(spark):
    out = mdm.raw_to_mdm(_caiso_df(spark), mdm.CAISO_SPEC, "usage")
    assert [f.dataType for f in out.schema.fields] == [
        f.dataType for f in mdm.MDM_USAGE_SCHEMA.fields
    ]
    r = out.first()
    assert r["Uid"] == "AREA1"
    assert r["Value"] == 123.456
    assert (r["IntervalTimestamp"] - r["Timestamp"]).total_seconds() == 3600


def test_mdm_meta_schema_and_enums(spark):
    out = mdm.raw_to_mdm(_caiso_df(spark), mdm.CAISO_SPEC, "meta")
    assert [f.dataType for f in out.schema.fields] == [
        f.dataType for f in mdm.MDM_META_SCHEMA.fields
    ]
    r = out.first()
    assert (r["SeriesType"], r["ModelType"], r["ValueType"]) == (64, 1, 16)
    assert r["Timezone"] == "PST"
    assert r["Properties"] is None


def test_mdm_invalid_output_type(spark):
    with pytest.raises(ValueError, match="usage"):
        mdm.raw_to_mdm(_caiso_df(spark), mdm.CAISO_SPEC, "bogus")


def test_mdm_miso_melt(spark):
    df = spark.createDataFrame(
        [("2024-03-01 05:00:00", 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 21.0)],
        "Datetime string, Lrz1 double, Lrz2_7 double, Lrz3_5 double,"
        " Lrz4 double, Lrz6 double, Lrz8_9_10 double, Miso double",
    ).withColumn("Datetime", F.col("Datetime").cast("timestamp"))
    out = mdm.raw_to_mdm(df, mdm.MISO_SPEC, "usage")
    rows = {r["Uid"]: r["Value"] for r in out.collect()}
    assert rows == {
        "Lrz1": 1.0, "Lrz2_7": 2.0, "Lrz3_5": 3.0, "Lrz4": 4.0,
        "Lrz6": 5.0, "Lrz8_9_10": 6.0, "Miso": 21.0,
    }
    # to_utc_timestamp('US/Central') shifts +6h in March (CST)
    ts = out.filter(F.col("Uid") == "Miso").first()["Timestamp"]
    assert ts.hour == 11


def test_mdm_ercot_hour_ending(spark):
    df = spark.createDataFrame(
        [("2024-01-02 00:00:00", "7:00", "N") + tuple(float(i) for i in range(9))],
        "Date string, HourEnding string, DstFlag string, Coast double,"
        " East double, FarWest double, North double, NorthCentral double,"
        " SouthCentral double, Southern double, West double, SystemTotal double",
    ).withColumn("Date", F.col("Date").cast("timestamp"))
    out = mdm.raw_to_mdm(df, mdm.ERCOT_SPEC, "meta")
    assert out.count() == 9
    r = out.first()
    assert r["TimestampStart"].hour == 7
    assert r["TimestampEnd"].hour == 8


def test_melt_matches_reference_shape(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], "id int, a double, b double")
    out = mdm.melt(df, ["id"], ["a", "b"], "var", "val").orderBy("var")
    assert out.columns == ["id", "var", "val"]
    assert [(r["var"], r["val"]) for r in out.collect()] == [("a", 10.0), ("b", 20.0)]


# ------------------------------------------------- new transformer edge cases


def test_opcua_multi_message_and_type_probe(spark):
    inner = json.dumps(
        [
            {
                "DataSetWriterId": 1,
                "Timestamp": "2024-01-01T00:00:00",
                "Payload": {"tagA": {"Value": "1.5"}, "tagB": {"Value": "hello"}},
            },
            {
                "DataSetWriterId": 2,
                "Timestamp": "2024-01-01T00:01:00",
                "Payload": {"tagC": {"Value": "-3"}},
            },
        ]
    )
    body = json.dumps({"Messages": inner})
    out = tr.opcua_json_to_pcdm(spark.createDataFrame([(body,)], "body string"))
    rows = {r["TagName"]: r for r in out.collect()}
    assert len(rows) == 3
    assert rows["tagA"]["ValueType"] == "float"
    assert rows["tagB"]["ValueType"] == "string"
    assert rows["tagC"]["ValueType"] == "float"
    assert rows["tagC"]["EventTime"].minute == 1
    assert rows["tagA"]["Status"] == "Good" and rows["tagA"]["ChangeType"] == "insert"


def test_mirico_metadata_dedup_and_props(spark):
    def body(site, retro, alt):
        return json.dumps(
            {
                "retroName": retro, "siteName": site, "gasType": "ch4",
                "retroAltitude": alt, "sensorAltitude": 2.0,
                "retroLongitude": 3.0, "sensorLatitude": 4.0,
                "retroLatitude": 5.0, "sensorLongitude": 6.0,
            }
        )

    df = spark.createDataFrame(
        [(body("siteA", "r1", 1.0),), (body("siteA", "r1", 1.0),), (body("siteB", "r2", 9.0),)],
        "body string",
    )
    out = tr.mirico_json_to_metadata(df)
    rows = {r["TagName"]: r for r in out.collect()}
    assert set(rows) == {"SITEA_R1_CH4", "SITEB_R2_CH4"}
    assert rows["SITEB_R2_CH4"]["Properties"]["retroAltitude"] == 9.0
    assert rows["SITEA_R1_CH4"]["Description"] == "" and rows["SITEA_R1_CH4"]["UoM"] == ""


def test_ssip_json_metadata_fallback_and_demotion(spark):
    def body(tag, value):
        return json.dumps(
            {"TagName": tag, "EventTime": "2024-01-02 03:04:05.500000",
             "Quality": "Good", "Value": value}
        )

    df = spark.createDataFrame(
        [
            # props PointType wins over metadata
            (body("t1", "42"), {"PointType": "Int32", "Action": "Add"}),
            # no props PointType -> metadata fallback (Float32)
            (body("t2", "1.25"), {"Action": "Refresh"}),
            # declared integer but unparseable -> demoted to string
            (body("t3", "42.9x"), {"PointType": "Int16", "Action": "Delete"}),
            # no metadata, no props -> default string
            (body("t4", "7"), {"Action": "Insert"}),
        ],
        "body string, properties map<string,string>",
    )
    meta = spark.createDataFrame(
        [("t2", "Float32"), ("t1", "String")], "TagName string, PointType string"
    )
    out = tr.ssip_json_to_pcdm(df, metadata_df=meta)
    rows = {r["TagName"]: r for r in out.collect()}
    assert rows["t1"]["ValueType"] == "integer" and rows["t1"]["ChangeType"] == "insert"
    assert rows["t2"]["ValueType"] == "float" and rows["t2"]["ChangeType"] == "update"
    assert rows["t3"]["ValueType"] == "string" and rows["t3"]["ChangeType"] == "delete"
    assert rows["t4"]["ValueType"] == "string"
    assert rows["t2"]["EventTime"].microsecond == 500000
    assert str(rows["t2"]["EventDate"]) == "2024-01-02"
