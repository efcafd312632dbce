"""Property-based differential testing (hypothesis) for the round-5 text
queries: random small corpora run through BOTH engines (Spark body vs the
DuckDB oracle SQL) must agree exactly — including degenerate inputs the
parquet fixtures never produce (empty text, consecutive separators,
single-word docs, whole-corpus duplicate docs).

Generator notes:
- a small vocabulary forces n-gram collisions within and across docs, so
  the dup/top fractions and the cross-doc doc-frequency join all take
  non-trivial values;
- '' and ' ' docs probe the split() edge: both engines yield empty-string
  tokens for consecutive separators, and both drop <2-word docs from the
  bigram stats (inner join) — the property test pins that this stays in
  lockstep rather than assuming it.

Example count is bounded (Spark jobs per example); deadline disabled for
the same reason.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_VOCAB = ["a", "b", "cc", "ddd", "a", "b"]  # skew: a/b twice as likely

_doc = st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=12).map(
    " ".join
)
_corpus = st.lists(_doc, min_size=1, max_size=8)


def _duck_rows(sql: str, docs: list[str]):
    con = duckdb.connect()
    pdf = pd.DataFrame(
        {"doc_id": range(len(docs)), "text": docs}
    ).astype({"doc_id": "int64"})
    con.register("documents", pdf)
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, res.fetchall()


def _spark_rows(spark, sql: str, docs: list[str]):
    sdf = spark.createDataFrame(
        list(enumerate(docs)), "doc_id bigint, text string"
    )
    sdf.createOrReplaceTempView("documents")
    try:
        out = spark.sql(sql)
        return out.columns, [tuple(r) for r in out.collect()]
    finally:
        spark.catalog.dropTempView("documents")


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        tuple(r[i] for i in order) for r in rows
    )


def _assert_parity(spark, spark_sql: str, duck_sql: str, docs: list[str]):
    sc, sv = _norm(*_spark_rows(spark, spark_sql, docs))
    dc, dv = _norm(*_duck_rows(duck_sql, docs))
    assert sc == dc
    assert sv == dv, (docs, sv, dv)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_corpus)
def test_repetition_parity_random_corpora(spark, docs):
    from pyofs_spark.plans.queries_text import _repetition_sql

    _assert_parity(
        spark, _repetition_sql("spark"), _repetition_sql("duck"), docs
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_corpus)
def test_crossdoc_parity_random_corpora(spark, docs):
    from pyofs_spark.plans.queries_text import _crossdoc_sql

    _assert_parity(
        spark, _crossdoc_sql("spark"), _crossdoc_sql("duck"), docs
    )


def test_degenerate_docs_parity(spark):
    """The exact edge corpus: empty text, lone separator (two empty
    tokens -> a real '' bigram), single word, and two identical
    5+-word docs (cross-doc duplicated spans at doc_freq 2)."""
    from pyofs_spark.plans.queries_text import _crossdoc_sql, _repetition_sql

    docs = ["", " ", "a", "a b c dd e", "a b c dd e", "  a"]
    _assert_parity(
        spark, _repetition_sql("spark"), _repetition_sql("duck"), docs
    )
    _assert_parity(
        spark, _crossdoc_sql("spark"), _crossdoc_sql("duck"), docs
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_corpus)
def test_decontam_parity_random_corpora(spark, docs):
    """Decontamination must stay in lockstep too: with doc_ids < 97 only
    doc 0 donates benchmark shingles, and sub-5-word docs vanish from the
    scored set in both engines (the w4 IS NOT NULL shingle guard)."""
    from pyofs_spark.plans.queries_text import _decontam_sql

    _assert_parity(
        spark, _decontam_sql("spark"), _decontam_sql("duck"), docs
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_corpus)
def test_crossdoc_round6_form_parity_random_corpora(spark, docs):
    """The round-6 Spark restructure (array-built shingles over the word
    array, the doc-frequency tail over a materialized per_doc view) must
    stay value-identical to the DuckDB twin on random corpora."""
    from pyofs_spark.plans.queries_text import _crossdoc_sql, _crossdoc_tail_sql
    from sql_twins import CROSSDOC_PERDOC_SPARK

    # the real query runs the tail over a materialized VIEW; inline the
    # pre as a leading CTE here (the tail's own WITH merges into it)
    new_spark_sql = f"WITH cd_perdoc AS ({CROSSDOC_PERDOC_SPARK})" + (
        _crossdoc_tail_sql().replace("WITH df AS", ", df AS", 1)
    )
    _assert_parity(spark, new_spark_sql, _crossdoc_sql("duck"), docs)
