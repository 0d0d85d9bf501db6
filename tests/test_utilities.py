"""Tests for session-configuration and cloud utilities (injected clients)."""

from __future__ import annotations

import json
import os
import sys

import pytest

from core_spark.utilities import (
    adls_gen2_spn_connect,
    apply_bucket_policy,
    merge_bucket_policy_statement,
    s3_copy,
    set_spark_configuration,
)


def test_set_spark_configuration(spark):
    assert set_spark_configuration(spark, {"spark.sql.cbo.enabled": "true"})
    assert spark.conf.get("spark.sql.cbo.enabled") == "true"
    spark.conf.set("spark.sql.cbo.enabled", "false")


def test_driver_jvm_faults_heap_in_on_demand(spark):
    # the engine's driver JVM keeps a fixed-size throughput-GC heap but
    # does not pre-fault it: resident memory follows the pages it touches
    args = list(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getInputArguments()
    )
    assert "-XX:+AlwaysPreTouch" not in args, args
    assert "-XX:+UseParallelGC" in args, args
    assert any(a.startswith("-Xms") for a in args), args


def test_get_spark_leaves_environment_alone(spark):
    # the fixture's get_spark must not switch off protobuf's version check
    # process-wide nor put a shim directory on the workers' path
    assert not [k for k in os.environ if k.startswith("TEMPORARILY_DISABLE_PROTOBUF")]
    paths = sys.path + os.environ.get("PYTHONPATH", "").split(os.pathsep)
    assert not [p for p in paths if "core_spark_pbshim" in p], paths


def test_adls_gen2_spn_connect_sets_oauth_chain(spark):
    assert adls_gen2_spn_connect(spark, "acct", "tid", "cid", "secret")
    base = "fs.azure.account"
    sfx = "acct.dfs.core.windows.net"
    assert spark.conf.get(f"{base}.auth.type.{sfx}") == "OAuth"
    assert spark.conf.get(f"{base}.oauth2.client.id.{sfx}") == "cid"
    assert "login.microsoftonline.com/tid" in spark.conf.get(
        f"{base}.oauth2.client.endpoint.{sfx}"
    )


def test_merge_bucket_policy_new_and_existing_sid():
    p = merge_bucket_policy_statement(
        None, "AllowRead", "Allow", {"AWS": "*"}, ["s3:GetObject"], ["arn:a"]
    )
    assert p["Version"] == "2012-10-17" and len(p["Statement"]) == 1
    # same sid: effect/action replaced, resources unioned (incl. the
    # list-valued existing-resource case the reference drops)
    p["Statement"][0]["Resource"] = ["arn:old1", "arn:old2"]
    p2 = merge_bucket_policy_statement(
        p, "AllowRead", "Deny", {"AWS": "*"}, ["s3:*"], ["arn:new"]
    )
    st = p2["Statement"][0]
    assert st["Effect"] == "Deny" and st["Action"] == ["s3:*"]
    assert st["Resource"] == ["arn:new", "arn:old1", "arn:old2"]
    # different sid appends
    p3 = merge_bucket_policy_statement(
        p2, "AllowWrite", "Allow", {"AWS": "*"}, ["s3:PutObject"], ["arn:w"]
    )
    assert [s["Sid"] for s in p3["Statement"]] == ["AllowRead", "AllowWrite"]


class _FakeS3Client:
    def __init__(self, existing_policy=None):
        self._policy = existing_policy
        self.put = None
        self.copies = []
        self.uploads = []
        self.downloads = []

    def get_bucket_policy(self, Bucket):
        return {"Policy": self._policy}

    def put_bucket_policy(self, Bucket, Policy):
        self.put = (Bucket, json.loads(Policy))

    def copy(self, copy_source, bucket, key, *rest):
        self.copies.append((copy_source, bucket, key))

    def upload_file(self, path, bucket, key):
        self.uploads.append((path, bucket, key))

    def download_file(self, bucket, key, path):
        self.downloads.append((bucket, key, path))


def test_apply_bucket_policy_roundtrip():
    existing = json.dumps(
        {"Version": "2012-10-17", "Statement": [{"Sid": "S1", "Effect": "Allow",
         "Principal": "*", "Action": ["s3:GetObject"], "Resource": "arn:solo"}]}
    )
    client = _FakeS3Client(existing)
    assert apply_bucket_policy(
        client, "bkt", "S1", "Allow", "*", ["s3:GetObject"], ["arn:extra"]
    )
    bucket, policy = client.put
    assert bucket == "bkt"
    assert policy["Statement"][0]["Resource"] == ["arn:extra", "arn:solo"]


def test_s3_copy_routes(tmp_path):
    client = _FakeS3Client()

    class S3:  # boto3-resource shape: client hangs off .meta
        class meta:
            pass

    S3.meta.client = client
    # s3 -> s3 (server-side copy, version pinned)
    assert s3_copy("s3://src/k1", "s3://dst/k2", S3, source_version_id="v7")
    assert client.copies == [({"Bucket": "src", "Key": "k1", "VersionId": "v7"}, "dst", "k2")]
    # local -> s3
    f = tmp_path / "x.txt"
    f.write_text("hi")
    assert s3_copy(str(f), "s3://dst/up.txt", S3)
    assert client.uploads == [(str(f), "dst", "up.txt")]
    # s3 -> local
    assert s3_copy("s3://src/k1", str(tmp_path / "down.txt"), S3)
    assert client.downloads == [("src", "k1", str(tmp_path / "down.txt"))]
    # unsupported
    with pytest.raises(SystemError):
        s3_copy(str(tmp_path / "missing.txt"), str(tmp_path / "other.txt"), S3)


def test_s3_copy_reports_failure_as_false():
    class Boom:
        class meta:
            pass

        @staticmethod
        def copy(*a):
            raise RuntimeError("nope")

    Boom.meta.client = Boom
    assert s3_copy("s3://a/k", "s3://b/k", Boom) is False
