"""Edge-case contracts of the text feature columns (functions/text.py).

These pin the behaviors the DuckDB oracles exercise only implicitly:
whitespace-only and non-space-whitespace tokenization, and the empty-text
quality score (NULL would make both quality>=t and quality<t drop the row).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from core_spark.functions import text as tx


@pytest.fixture(scope="module")
def texts(spark):
    rows = [
        (0, ""),
        (1, "   "),
        (2, "\t\n"),
        (3, "foo bar\n"),
        (4, "a\tb\nc"),
        (5, "plain words here"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_token_count_whitespace_edges(texts):
    got = {
        r["doc_id"]: r["n"]
        for r in texts.select("doc_id", tx.token_count(F.col("text")).alias("n")).collect()
    }
    # empty and whitespace-only count 0; trailing \n / mixed \t\n do not
    # phantom-count (trim() strips only ASCII spaces)
    assert got == {0: 0, 1: 0, 2: 0, 3: 2, 4: 3, 5: 3}


def test_quality_score_empty_text_is_zero_not_null(texts):
    got = {
        r["doc_id"]: r["q"]
        for r in texts.select(
            "doc_id", tx.quality_score(F.col("text")).alias("q")
        ).collect()
    }
    assert got[0] == 0.0  # empty text: defined score, not NULL
    for doc_id, q in got.items():
        assert q is not None, f"doc {doc_id}: quality must never be NULL"
        assert 0.0 <= q <= 1.0, f"doc {doc_id}: quality {q} outside [0,1]"


def test_quality_threshold_partition_is_total(texts):
    """quality>=t and quality<t must partition ALL rows (the NULL hazard)."""
    q = texts.select("doc_id", tx.quality_score(F.col("text")).alias("q"))
    hi = q.filter(F.col("q") >= 0.5).count()
    lo = q.filter(F.col("q") < 0.5).count()
    assert hi + lo == texts.count()


def test_repetition_metrics(spark):
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from core_spark.functions import text as tx
    from core_spark.registry import SQL_TEXT_REPETITION

    documents = pd.DataFrame(
        {
            "doc_id": range(7),
            "text": [
                "a b a b a",      # words: 5, distinct 2; 2grams: [a b, b a, a b, b a] -> 4, distinct 2
                "x y z",          # no repetition
                "solo",           # 1 word, 0 2-grams -> NULL 2gram frac
                "   ",            # whitespace-only -> 0 words, NULLs
                "",               # empty -> 0 words, NULLs
                "\tp q p\n",      # non-space whitespace at both ends
                " \n ",           # whitespace-only, not just spaces
            ],
        }
    )
    m = tx.repetition_metrics(F.col("text"))
    rows = [
        tuple(r)
        for r in spark.createDataFrame(documents).orderBy("doc_id").select(
            "doc_id",
            m["words"].alias("w"),
            F.round(m["frac_dup_words"], 6).alias("fw"),
            F.round(m["frac_dup_2grams"], 6).alias("fg"),
        ).collect()
    ]
    assert rows[0][1:] == (5, 0.6, 0.5)
    assert rows[1][1:] == (3, 0.0, 0.0)
    assert rows[2][1:] == (1, 0.0, None)
    assert rows[3][1:] == rows[4][1:] == rows[6][1:] == (0, None, None)
    assert rows[5][1:] == (3, round(1 / 3, 6), 0.0)
    # the text_repetition entry's DuckDB oracle agrees on every document
    con = duckdb.connect()
    con.register("documents", documents)
    assert con.sql(SQL_TEXT_REPETITION + " ORDER BY 1").fetchall() == rows
