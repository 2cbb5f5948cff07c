"""The MinHash band kernel (`llm.minhash_band_batches`, the Arrow path
`_bands` and `q_llm_minhash` run) must emit exactly the band rows of the
SQL-expression form (`llm.minhash_band_keys`, the path the streaming
ingest probe runs), row for row — on the whole tier-1 corpus, on
adversarial texts (non-ASCII, empty tokens from leading/trailing/double
spaces, empty text, repeated tokens), on batches where many docs share a
signature tuple and where none do, and on null text and empty batches.
`q_llm_minhash` streams the kernel's rows and persists nothing; when the
session has persisted the band memo, Spark's cache matching reads that
instead."""

import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreduce_machine_learning_spark import runtime
from mapreduce_machine_learning_spark.io import load_table
from mapreduce_machine_learning_spark.operators import llm
from mapreduce_machine_learning_spark.operators.llm import (
    BANDS_SCHEMA,
    N_BANDS,
    minhash_band_batches,
    minhash_band_keys,
)
from tests.conftest import SF_DIR
from tests.test_ann import _outside_cache


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


def _band_key_counts(rows):
    """Distinct band keys per band of a kernel row list."""
    return [len({k for _, b, k in rows if b == band}) for band in range(N_BANDS)]


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", ""]), min_size=1, max_size=5),
        min_size=40,
        max_size=120,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kernel_equals_expression_with_shared_signature_tuples(spark, docs):
    """A 4-token vocabulary over many docs: at most 15 distinct token
    sets, so most docs share their band's signature tuple with others and
    the kernel hashes each shared tuple once."""
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = _kernel_rows(df)
    assert len(got) == N_BANDS * len(docs)
    assert max(_band_key_counts(got)) <= 15 < len(docs)
    assert got == _expression_rows(df)


@given(
    vocab=st.lists(
        st.text(alphabet="xyzé中", min_size=1, max_size=6),
        min_size=4,
        max_size=60,
        unique=True,
    ),
    per_doc=st.integers(min_value=1, max_value=3),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kernel_equals_expression_with_distinct_signature_tuples(
    spark, vocab, per_doc
):
    """Docs over disjoint token sets: every doc's signature differs from
    every other's in every seed, so no two docs share a band tuple."""
    texts = [
        " ".join(vocab[i : i + per_doc])
        for i in range(0, len(vocab) - per_doc + 1, per_doc)
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = _kernel_rows(df)
    assert _band_key_counts(got) == [len(texts)] * N_BANDS
    assert got == _expression_rows(df)


def test_minhash_streams_on_a_cold_memo(spark):
    """With no band table built in the session, q_llm_minhash groups the
    kernel's rows as they stream: it adds no memo entry and caches
    nothing."""
    runtime.release_all()
    before = runtime.memo_count()
    df = llm.q_llm_minhash(spark, SF_DIR)
    qe = df._jdf.queryExecution()
    assert "InMemoryRelation" not in qe.optimizedPlan().toString()
    plan = qe.executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert df.collect()
    assert runtime.memo_count() == before
    assert not runtime.is_built(spark, SF_DIR, "bands")


def test_minhash_reads_built_band_memo(spark):
    """Once the session has built the band table (`_bands`, filled),
    q_llm_minhash's plan, which has no branch on the memo, reads it:
    Spark's CacheManager matches the streamed band frame to the persisted
    one, so the kernel does not run again. Both collect the same rows."""
    runtime.release_all()
    stream_rows = sorted(llm.q_llm_minhash(spark, SF_DIR).collect())
    llm._bands(spark, SF_DIR)  # a planned but unfilled memo is not built
    assert not runtime.is_built(spark, SF_DIR, "bands")
    llm._bands(spark, SF_DIR).count()
    assert runtime.is_built(spark, SF_DIR, "bands")
    df = llm.q_llm_minhash(spark, SF_DIR)
    plan = _outside_cache(df._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert sorted(df.collect()) == stream_rows and stream_rows
    runtime.release_all()


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
