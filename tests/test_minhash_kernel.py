"""The MinHash band kernel (`llm.minhash_band_batches`, the Arrow path
`_bands` runs) must emit exactly the band rows of the SQL-expression form
(`llm.minhash_band_keys`, the path the streaming ingest probe runs), row
for row — on the whole tier-1 corpus, on adversarial texts (non-ASCII,
empty tokens from leading/trailing/double spaces, empty text, repeated
tokens), and on null text and empty batches."""

import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreduce_machine_learning_spark.io import load_table
from mapreduce_machine_learning_spark.operators.llm import (
    BANDS_SCHEMA,
    N_BANDS,
    minhash_band_batches,
    minhash_band_keys,
)
from tests.conftest import SF_DIR


def _kernel_rows(df):
    out = df.select("doc_id", "text").mapInPandas(
        minhash_band_batches, schema=BANDS_SCHEMA
    )
    return sorted(tuple(r) for r in out.collect())


def _expression_rows(df):
    out = df.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.posexplode(minhash_band_keys(F.col("text"))).alias(
            "band_id", "band_key"
        ),
    )
    return sorted(tuple(r) for r in out.collect())


def test_kernel_equals_expression_on_corpus(spark):
    docs = load_table(spark, SF_DIR, "documents")
    got = _kernel_rows(docs)
    assert len(got) == N_BANDS * docs.count()
    assert got == _expression_rows(docs)


@given(
    texts=st.lists(
        st.one_of(
            st.none(),
            st.text(
                alphabet=st.sampled_from(["a", "b", "é", "中", "😀", " "]),
                max_size=12,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
@example(texts=["", " a", "a ", "a  b", "é 中 😀 é", "😀 😀", None])
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kernel_equals_expression_on_adversarial_text(spark, texts):
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = _kernel_rows(df)
    assert len(got) == N_BANDS * sum(t is not None for t in texts)
    assert got == _expression_rows(df)


def test_null_text_emits_no_rows(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "a b"), (3, None)], "doc_id long, text string"
    )
    assert {r[0] for r in _kernel_rows(df)} == {2}
    assert _kernel_rows(df.filter(F.col("text").isNull())) == []
    assert _kernel_rows(df.filter(F.lit(False))) == []


def test_empty_and_all_null_batches_yield_nothing():
    empty = pd.DataFrame(
        {"doc_id": pd.Series([], dtype="int64"), "text": pd.Series([], dtype=object)}
    )
    all_null = pd.DataFrame({"doc_id": [1, 2], "text": [None, None]})
    assert list(minhash_band_batches(iter([empty, all_null]))) == []
