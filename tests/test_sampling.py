"""Tests for deterministic sampling / splitting / contamination
(operators/sampling) — reproducibility, exactness, and scale invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from core_spark.operators import sampling as smp

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_hash_sample_deterministic_and_nested(spark, docs):
    s10a = ids(smp.hash_sample(docs, 0.10))
    s10b = ids(smp.hash_sample(docs, 0.10))
    assert s10a == s10b  # rerun-stable
    # monotone thresholds nest: the 10% sample is a subset of the 25% one —
    # the property that makes incremental re-sampling of a growing corpus safe
    s25 = set(ids(smp.hash_sample(docs, 0.25)))
    assert set(s10a) <= s25
    n = docs.count()
    assert len(s10a) == pytest.approx(0.10 * n, abs=3 * (0.1 * 0.9 * n) ** 0.5 + 1)


def test_hash_sample_salt_gives_independent_sample(spark, docs):
    a = set(ids(smp.hash_sample(docs, 0.3)))
    b = set(ids(smp.hash_sample(docs, 0.3, salt="other")))
    assert a != b  # same fraction, different membership
    # edges
    assert ids(smp.hash_sample(docs, 0.0)) == []
    assert len(ids(smp.hash_sample(docs, 1.0))) == docs.count()
    with pytest.raises(ValueError):
        smp.hash_sample(docs, 1.5)


def test_stratified_fractions_per_stratum(spark, docs):
    out = smp.stratified_hash_sample(
        docs, {"en": 1.0, "de": 0.0}, strata_col="lang", default_fraction=0.0
    )
    got = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert got == {"en"}
    n_en = docs.filter(F.col("lang") == "en").count()
    assert out.count() == n_en  # fraction 1.0 keeps every row of the stratum
    # stratum membership is consistent with the flat sample at equal fraction
    flat = set(ids(smp.hash_sample(docs, 0.4)))
    strat = set(
        ids(smp.stratified_hash_sample(docs, {}, strata_col="lang", default_fraction=0.4))
    )
    assert strat == flat


def test_train_test_split_partition_properties(spark, docs):
    out = smp.train_test_split_col(docs, test_fraction=0.2)
    assert out.count() == docs.count()  # exhaustive
    by = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(by) == {"train", "test"}
    # a key's split never depends on what else is in the frame
    half = docs.filter(F.col("doc_id") % 2 == 0)
    sub = {
        r["doc_id"]: r["split"]
        for r in smp.train_test_split_col(half, 0.2).select("doc_id", "split").collect()
    }
    full = {
        r["doc_id"]: r["split"]
        for r in out.select("doc_id", "split").collect()
    }
    assert all(full[k] == v for k, v in sub.items())


def test_contamination_detects_shared_ngrams(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark's 8-gram span (with punctuation noise —
            # normalization must see through it)
            (1, "He said: the QUICK brown fox, jumps over the lazy dog!! again"),
            # shares only a 4-gram -> clean at n=8
            (2, "the quick brown fox went home early yesterday evening alone"),
            (3, "completely unrelated text about spark aggregation pipelines"),
        ],
        "doc_id bigint, text string",
    )
    out = smp.contamination_check(corpus, bench, n=8).collect()
    assert [(r["doc_id"], r["bench_id"]) for r in out] == [(1, 100)]
    assert out[0]["shared_ngrams"] >= 1


def test_contamination_short_docs_are_safe(spark):
    bench = spark.createDataFrame([(9, "tiny doc")], "doc_id bigint, text string")
    corpus = spark.createDataFrame([(1, "tiny doc")], "doc_id bigint, text string")
    # both below n words -> zero n-grams -> no pairs, no crash
    assert smp.contamination_check(corpus, bench, n=8).count() == 0


def test_sampling_plan_is_scan_level_filter(spark, docs):
    plan = smp.hash_sample(docs, 0.1)._jdf.queryExecution().executedPlan().toString()
    # single-stage: no exchange anywhere in the sampled scan
    assert "Exchange" not in plan


# ---------------------------------------------------------- semantic dedup


def test_semantic_dedup_recovers_planted_groups(spark):
    import numpy as np

    from core_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    rows = []
    # 6 well-separated base directions; ids 0..5 originals
    base = rng.normal(size=(6, 16)).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    for i in range(6):
        rows.append((i, base[i].tolist()))
    # ids 100+i and 200+i: tiny perturbations of originals 0..2 (near-dups)
    for i in range(3):
        for off in (100, 200):
            v = base[i] + rng.normal(scale=0.005, size=16).astype(np.float32)
            rows.append((off + i, (v / np.linalg.norm(v)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # n_lists must stay << n_dup_groups on a 12-point corpus: k-means seeds
    # from the first hash-ordered rows, and at k=4 two members of one trio
    # can seed separate centroids, splitting the group (SemDeDup's own
    # boundary approximation, irrelevant at corpus-scale k/N ratios)
    out = semantic_dedup(emb, threshold=0.98, n_lists=3, sample_n=64)
    got = {r["vec_id"]: (r["keeper_id"], r["group_size"]) for r in out.collect()}
    # each planted trio grouped under its original (min id), size 3
    for i in range(3):
        assert got[i] == (i, 3)
        assert got[100 + i] == (i, 3)
        assert got[200 + i] == (i, 3)
    # non-duplicated originals are absent (no pair -> no group row)
    for i in range(3, 6):
        assert i not in got


def test_semantic_dedup_registry_has_signal(spark):
    """The registry entry plants exact clones of every 25th embedding
    (20 clones on the 500-row table), so the rows-only driver check carries
    signal: exactly 20 groups of size 2, keeper = the original vec_id."""
    from core_spark import registry

    out = registry.q_sim_semantic_dedup(spark, SF_DIR).collect()
    assert len(out) == 40
    groups = {}
    for r in out:
        groups.setdefault(r["keeper_id"], []).append(r["vec_id"])
        assert r["group_size"] == 2
    assert len(groups) == 20
    for keeper, members in groups.items():
        assert keeper % 25 == 0 and sorted(members) == [keeper, keeper + 1_000_000]


def test_semantic_dedup_deterministic_across_runs(spark):
    from core_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = sorted(tuple(r) for r in semantic_dedup(emb, 0.95, n_lists=8).collect())
    b = sorted(tuple(r) for r in semantic_dedup(emb, 0.95, n_lists=8).collect())
    assert a == b


def test_sequence_pack_prefix_sums(spark):
    import pandas as pd

    from core_spark.operators import sampling as sp

    pdf = pd.DataFrame(
        {"doc_id": range(100), "n_tokens": [(i * 37) % 900 for i in range(100)]}
    )
    # expected: plain prefix sum in doc_id order
    exp_off = pdf["n_tokens"].cumsum().shift(1, fill_value=0).tolist()
    for parts in (1, 7):
        df = spark.createDataFrame(pdf).repartition(parts)
        out = (
            sp.sequence_pack(df, "doc_id", "n_tokens", 512)
            .orderBy("doc_id")
            .collect()
        )
        assert [r["token_offset"] for r in out] == exp_off, parts
        for r in out:
            assert r["pack_first"] == r["token_offset"] // 512
            if r["n_tokens"] > 0:
                assert (
                    r["pack_last"]
                    == (r["token_offset"] + r["n_tokens"] - 1) // 512
                )
            else:
                # zero-token docs sit at a boundary without claiming a pack
                assert r["pack_last"] == r["pack_first"]


def test_sequence_pack_offsets_under_aqe_coalescing(spark):
    import pandas as pd

    from core_spark.operators import sampling as sp

    # AQE coalescing on with a tiny advisory size: the range shuffle keeps
    # many partitions, and the offsets must still equal one running sum.
    # The hyphenated token column also exercises the quoted SQL expression.
    keys = (
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    pdf = pd.DataFrame(
        {"doc_id": range(400), "n-tokens": [(i * 53) % 700 for i in range(400)]}
    )
    exp_off = pdf["n-tokens"].cumsum().shift(1, fill_value=0).tolist()
    exp_last = [
        (o + n - 1) // 256 if n > 0 else o // 256
        for o, n in zip(exp_off, pdf["n-tokens"])
    ]
    try:
        spark.conf.set(keys[0], "true")
        spark.conf.set(keys[1], "64b")
        df = spark.createDataFrame(pdf.sample(frac=1, random_state=3)).repartition(9)
        out = sp.sequence_pack(df, "doc_id", "n-tokens", 256).orderBy("doc_id").collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert [r["token_offset"] for r in out] == exp_off
    assert [r["pack_last"] for r in out] == exp_last


def test_sequence_pack_no_global_window(spark):
    import pandas as pd

    from core_spark.operators import sampling as sp

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(50), "n_tokens": [5] * 50})
    )
    plan = sp.sequence_pack(df, "doc_id", "n_tokens", 64)._jdf.queryExecution(
    ).executedPlan().toString()
    # the running sum must be windowed per range-partition id, never an
    # unpartitioned global Window (single-task serialization at scale)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "__pid" in line, line
