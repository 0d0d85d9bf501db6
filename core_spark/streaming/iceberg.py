"""Real Iceberg exactly-once MERGE sink — the cluster-side form of
streaming/sink.MergeSink (reference pattern: delta_merge.py:212-344,
pcdm_to_delta.py:193-253 recast to Iceberg SQL).

This module is capability-gated: it needs an `iceberg-spark-runtime` jar on
the session classpath plus a configured catalog (the sandbox ships neither,
so tests/test_iceberg_sink.py skips cleanly). Vendoring the jar
into repo-local `jars/` was attempted in round 4 and is environment-blocked:
the sandbox has no network route (DNS resolution for repo1.maven.org fails)
and no copy of the jar anywhere on the image (`find / -name
'*iceberg*jar'` comes back empty), so there is nothing to vendor from.
`find_iceberg_jar()` below remains the zero-config bootstrap: any image
that carries the jar (env var, repo `jars/`, ivy cache, Spark dist) runs
the live MERGE INTO suite immediately, preferring the running Spark
line's build. On a cluster:

    spark = (SparkSession.builder
        .config("spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
        .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.local.type", "hadoop")
        .config("spark.sql.catalog.local.warehouse", "/path/warehouse")
        .getOrCreate())
    sink = IcebergMergeSink("local.db.out", ["prefix", "window_start"])
    run_to_sink(result, sink, ckpt)   # same wiring as the parquet sink

Exactly-once: foreachBatch is at-least-once, but (a) the MERGE keys are
deterministic, so a replayed micro-batch MERGEs identical rows into an
identical state (idempotent), and (b) Iceberg's snapshot isolation gives the
read-modify-write atomicity that the parquet stand-in gets from dynamic
partition overwrite's commit-time swap of staged partitions. A committed-batch property on the snapshot
(`batch-id`) additionally lets replays short-circuit without a write, the
Delta `txnAppId/txnVersion` convention.
"""

from __future__ import annotations

import glob
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def find_iceberg_jar() -> str | None:
    """Locate an `iceberg-spark-runtime` jar without network access.

    Search order (first hit wins): the `ICEBERG_JAR` env var, a repo-local
    `jars/` directory, `~/.ivy2/jars` and the ivy cache, then the Spark
    dist's own jars dir. Lets an offline image (or a user who drops the jar
    into `jars/`) run the live MERGE INTO suite with zero config; when
    nothing is found, callers fall back to the capability skip."""
    env = os.environ.get("ICEBERG_JAR")
    if env and os.path.isfile(env):
        return env
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    roots = [
        os.path.join(_REPO_ROOT, "jars"),
        os.path.expanduser("~/.ivy2/jars"),
        os.path.expanduser("~/.ivy2/cache/org.apache.iceberg"),
        os.path.join(spark_home, "jars"),
    ]
    import re

    def _version_key(path: str) -> tuple:
        # numeric-aware ordering of the ICEBERG version only: the basename
        # is iceberg-spark-runtime-<spark>_<scala>-<iceberg>.jar, and
        # comparing ALL numeric runs would let the Spark-line digits
        # dominate (a 4.0 runtime for Iceberg 1.4 would beat a 3.5 runtime
        # for Iceberg 1.10 even on Spark 3.5)
        m = re.search(r"-(\d+(?:\.\d+)*)\.jar$", os.path.basename(path))
        return (
            tuple(int(x) for x in m.group(1).split(".")) if m else (0,)
        )

    # prefer jars built for the RUNNING Spark line: an
    # iceberg-spark-runtime-4.0 jar on Spark 3.5 selects an incompatible
    # runtime and degrades to the capability skip even when a usable 3.5
    # jar sits next to it
    try:
        import pyspark

        spark_line = ".".join(pyspark.__version__.split(".")[:2])
    except Exception:
        spark_line = None

    for root in roots:
        hits = glob.glob(
            os.path.join(root, "**", "iceberg-spark-runtime*.jar"),
            recursive=True,
        )
        if hits:
            if spark_line:
                matched = [
                    h
                    for h in hits
                    if f"-{spark_line}_" in os.path.basename(h)
                ]
                if matched:
                    return max(matched, key=_version_key)
            return max(hits, key=_version_key)
    return None


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg SparkCatalog class is loadable in this JVM."""
    try:
        jvm = spark.sparkContext._jvm  # noqa: SLF001 — capability probe
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class IcebergMergeSink:
    """Keyed upsert (optionally CDC-delete) sink over an Iceberg table.

    Drop-in for MergeSink in run_to_sink: same write_batch(df, batch_id)
    contract, same key semantics; partition pruning and delete-file handling
    come from Iceberg itself instead of the manual partition rewrite.
    """

    def __init__(
        self,
        catalog_table: str,
        key_cols: Sequence[str],
        partition_by: str | None = None,
        op_col: str | None = None,
        delete_value: str = "delete",
    ) -> None:
        self.catalog_table = catalog_table
        self.key_cols = list(key_cols)
        self.partition_by = partition_by
        self.op_col = op_col
        self.delete_value = delete_value
        self._created = False

    # ------------------------------------------------------------ DDL

    def ensure_table(self, like_df: DataFrame) -> None:
        """CREATE TABLE IF NOT EXISTS with the batch's schema (minus the CDC
        verb column) and the hidden-partition spec — the reference's
        delta_table_create.py role."""
        spark = like_df.sparkSession
        shape = like_df.drop(self.op_col) if self.op_col else like_df
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in shape.schema.fields
        )
        part = f" PARTITIONED BY ({self.partition_by})" if self.partition_by else ""
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.catalog_table} ({ddl})"
            f" USING iceberg{part}"
        )
        self._created = True

    # ------------------------------------------------------------ commits

    def _last_committed_batch(self, spark: SparkSession) -> int | None:
        """Batch-id high-water mark from table properties (the Delta
        txnAppId/txnVersion convention). The property commit lands AFTER the
        MERGE commit and is not atomic with it — a crash in between replays
        one MERGE, which is harmless because the MERGE itself is idempotent
        on deterministic keys; the marker only short-circuits the common
        replay path."""
        try:
            rows = spark.sql(f"SHOW TBLPROPERTIES {self.catalog_table}").collect()
            props = {r["key"]: r["value"] for r in rows}
            v = props.get("engine.last-batch-id")
            return int(v) if v is not None else None
        except Exception:
            return None

    # ------------------------------------------------------------ merge

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not self._created:
            self.ensure_table(batch_df)
        last = self._last_committed_batch(spark)
        if last is not None and batch_id <= last:
            return  # replayed micro-batch: already merged
        dedup_cols = self.key_cols + ([self.op_col] if self.op_col else [])
        view = f"_src_{abs(hash(self.catalog_table)) % 10**8}_{batch_id}"
        batch_df.dropDuplicates(dedup_cols).createOrReplaceTempView(view)
        data_cols = [c for c in batch_df.columns if c != self.op_col]
        from .sink import MergeSink

        helper = MergeSink.__new__(MergeSink)
        helper.key_cols = self.key_cols
        helper.op_col = self.op_col
        helper.delete_value = self.delete_value
        sql = helper.iceberg_merge_sql(self.catalog_table, view, data_cols)
        spark.sql(sql)
        spark.sql(
            f"ALTER TABLE {self.catalog_table} "
            f"SET TBLPROPERTIES ('engine.last-batch-id' = '{int(batch_id)}')"
        )
        spark.catalog.dropTempView(view)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.catalog_table)

    def lineage(self, spark: SparkSession) -> list[dict]:
        """Per-commit lineage from Iceberg's own snapshot log."""
        rows = spark.sql(
            f"SELECT snapshot_id, committed_at, operation, summary "
            f"FROM {self.catalog_table}.snapshots ORDER BY committed_at"
        ).collect()
        return [r.asDict() for r in rows]
