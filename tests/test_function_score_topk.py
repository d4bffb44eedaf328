"""function_score_topk — factor-aware early termination (VERDICT r04
next-round #4): the factor artifact rides into the scoring kernel and
the MaxScore threshold lives on the FINAL score, so results must be
IDENTICAL to the full-evaluation function_score path — pinned here
across boost modes, modifiers, crafted low-BM25/high-factor rank flips,
missing-factor docs, NOT terms, and incremental deletes (epoch guard)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.index import IndexStore
from fastcatsearch3_spark.operators.build import build_index
from fastcatsearch3_spark.operators.ingest import normalize_corpus
from fastcatsearch3_spark.plans.search import (
    build_factor_artifact,
    function_score,
    function_score_topk,
)

CFG = EngineConfig(num_shards=2)

# crafted flips: docs 7/8 barely match (one term, low tf) but carry huge
# factors; docs 1/3 are BM25-strong with tiny factors — the pruned path
# must surface the factor winners exactly like full evaluation
ROWS = [
    (1, "spark merge spark merge spark", 1.0),
    (2, "spark merge line table", 40.0),
    (3, "merge merge spark query scan", 2.0),
    (4, "spark slow value window", 15.0),
    (5, "query window scan merge spark table", 8.0),
    (6, "table line value", 900.0),          # no query terms: never matches
    (7, "spark padding words here", 5000.0), # low BM25, huge factor
    (8, "merge other tokens again", 4000.0),
    (9, "spark merge middle doc", None),     # null factor value
]


@pytest.fixture(scope="module")
def corpus_pd() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": [r[0] for r in ROWS],
            "text": [r[1] for r in ROWS],
            "lang": "en",
            "source": "s1",
            "n_chars": [len(r[1]) for r in ROWS],
        }
    )


@pytest.fixture(scope="module")
def fields_pd(corpus_pd) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": [r[0] for r in ROWS],
            "pop": [r[2] for r in ROWS],
        }
    )


@pytest.fixture(scope="module")
def store(spark, corpus_pd, tmp_path_factory) -> IndexStore:
    root = str(tmp_path_factory.mktemp("idx"))
    build_index(
        spark, normalize_corpus(spark.createDataFrame(corpus_pd)), root, CFG
    )
    return IndexStore(root)


def _parity(spark, store, fields, query, modifier, boost_mode, name):
    build_factor_artifact(
        spark, store, fields, "pop", name, modifier=modifier
    )
    pruned = function_score_topk(
        spark, store, query, name, k=6, boost_mode=boost_mode
    ).toPandas()
    full = function_score(
        spark, store, query, fields, "pop", k=6,
        modifier=modifier, boost_mode=boost_mode,
    ).toPandas()
    assert list(pruned["doc_id"]) == list(full["doc_id"]), (
        query, modifier, boost_mode
    )
    np.testing.assert_allclose(pruned["final"], full["final"], atol=1e-9)
    np.testing.assert_allclose(pruned["factor"], full["factor"], atol=1e-9)
    return pruned


@pytest.mark.parametrize("modifier", ["ln1p", "sqrt", "none"])
@pytest.mark.parametrize("boost_mode", ["multiply", "sum"])
def test_parity_or_query(spark, store, fields_pd, modifier, boost_mode):
    fields = spark.createDataFrame(fields_pd)
    got = _parity(
        spark, store, fields, "spark merge table",  # wait: AND default
        modifier, boost_mode, f"p_{modifier}_{boost_mode}",
    )
    assert len(got) > 0


def test_flip_docs_surface(spark, store, fields_pd):
    """The crafted low-BM25/high-factor docs MUST outrank the BM25
    leaders under multiply — i.e. pruning cannot drop them."""
    fields = spark.createDataFrame(fields_pd)
    build_factor_artifact(spark, store, fields, "pop", "flip")
    # OR query so docs 7 (spark only) and 8 (merge only) match
    from fastcatsearch3_spark.plans.query import ParsedQuery

    pq = ParsedQuery(terms=["spark", "merge"], op="OR")
    pruned = function_score_topk(
        spark, store, pq, "flip", k=4
    ).toPandas()
    full = function_score(
        spark, store, pq, fields, "pop", k=4
    ).toPandas()
    assert list(pruned["doc_id"]) == list(full["doc_id"])
    np.testing.assert_allclose(pruned["final"], full["final"], atol=1e-9)
    assert {7, 8} <= set(pruned["doc_id"][:3])  # the flips won


def test_missing_and_null_factor_docs_kept(spark, store, fields_pd):
    fields = spark.createDataFrame(fields_pd[fields_pd["doc_id"] != 1])
    build_factor_artifact(spark, store, fields, "pop", "miss")
    from fastcatsearch3_spark.plans.query import ParsedQuery

    pq = ParsedQuery(terms=["spark", "merge"], op="OR")
    pruned = function_score_topk(spark, store, pq, "miss", k=9).toPandas()
    full = function_score(
        spark, store, pq, fields, "pop", k=9
    ).toPandas()
    assert list(pruned["doc_id"]) == list(full["doc_id"])
    got = pruned.set_index("doc_id")
    assert got.loc[1, "factor"] == pytest.approx(1.0)  # absent row
    assert got.loc[9, "factor"] == pytest.approx(1.0)  # null value → no row


def test_not_terms_parity(spark, store, fields_pd):
    fields = spark.createDataFrame(fields_pd)
    build_factor_artifact(spark, store, fields, "pop", "nt")
    from fastcatsearch3_spark.plans.query import ParsedQuery

    pq = ParsedQuery(terms=["spark"], not_terms=["table"], op="OR")
    pruned = function_score_topk(spark, store, pq, "nt", k=8).toPandas()
    full = function_score(
        spark, store, pq, fields, "pop", k=8
    ).toPandas()
    assert list(pruned["doc_id"]) == list(full["doc_id"])
    assert 2 not in set(pruned["doc_id"]) and 5 not in set(pruned["doc_id"])


def test_stale_artifact_rejected(spark, tmp_path, corpus_pd, fields_pd):
    root = str(tmp_path / "stale")
    build_index(
        spark, normalize_corpus(spark.createDataFrame(corpus_pd)), root, CFG
    )
    store = IndexStore(root)
    build_factor_artifact(
        spark, store, spark.createDataFrame(fields_pd), "pop", "f"
    )
    # index mutates → epoch changes → artifact refused
    from fastcatsearch3_spark.streaming import incremental as inc

    tomb = pd.DataFrame({"repo": ["s1"], "path": ["doc/6.txt"]})
    inc.delete_by_pk(spark, root, spark.createDataFrame(tomb))
    store = IndexStore(root)
    with pytest.raises(RuntimeError, match="stale"):
        function_score_topk(spark, store, "spark", "f", k=3)
    # rebuild under the new epoch → deletes respected via denied mask
    build_factor_artifact(
        spark, store, spark.createDataFrame(fields_pd), "pop", "f"
    )
    out = function_score_topk(spark, store, "spark", "f", k=9).toPandas()
    assert 6 not in set(out["doc_id"])


def test_unsupported_forms_raise(spark, store, fields_pd):
    build_factor_artifact(
        spark, store, spark.createDataFrame(fields_pd), "pop", "u"
    )
    with pytest.raises(ValueError, match="flat"):
        function_score_topk(spark, store, '"spark merge"', "u")
    with pytest.raises(ValueError, match="decay"):
        build_factor_artifact(
            spark, store, spark.createDataFrame(fields_pd), "pop", "g",
            modifier="gauss",
        )


# Per doc: a raw field value, None (null), NaN, or ABSENT (no fields_df
# row at all). ROWS has 9 docs; doc 6 never matches the query.
ABSENT = "absent"
_value = st.one_of(
    st.none(),
    st.just(float("nan")),
    st.just(ABSENT),
    st.floats(min_value=-50.0, max_value=5000.0, allow_nan=False),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    values=st.lists(_value, min_size=len(ROWS), max_size=len(ROWS)),
    missing=st.one_of(st.none(), st.floats(min_value=-5.0, max_value=100.0)),
    modifier=st.sampled_from(["ln1p", "sqrt", "none"]),
    boost_mode=st.sampled_from(["multiply", "sum"]),
)
# the cases that diverged when absent docs got the neutral factor and
# negative factors were clamped to 0
@example(
    values=[ABSENT, 3.0, ABSENT, None, 8.0, 1.0, ABSENT, 2.0, float("nan")],
    missing=50.0, modifier="ln1p", boost_mode="multiply",
)
@example(
    values=[1.0, ABSENT, 2.0, 4.0, 8.0, 1.0, 5.0, None, 3.0],
    missing=0.0, modifier="none", boost_mode="sum",
)
@example(
    values=[1.0, -4.0, 2.0, 4.0, 8.0, 1.0, 5.0, 7.0, 3.0],
    missing=None, modifier="none", boost_mode="multiply",
)
def test_topk_agrees_with_function_score(
    spark, store, values, missing, modifier, boost_mode
):
    """function_score_topk returns function_score's rows for any field
    column: absent docs, nulls and NaN follow the ``missing`` policy on
    both paths, and a factor that would be negative is refused by the
    artifact (function_score keeps it; pruning cannot)."""
    from fastcatsearch3_spark.plans.query import ParsedQuery

    present = [
        (doc, v) for (doc, _, _), v in zip(ROWS, values) if v is not ABSENT
    ]
    # an explicit schema keeps None a null and NaN a NaN
    fields = spark.createDataFrame(present, "doc_id long, pop double")
    negative = modifier == "none" and (
        (missing is not None and missing < 0)
        or any(v is not None and v < 0 for _, v in present)
    )
    if negative:
        with pytest.raises(ValueError, match="function_score"):
            build_factor_artifact(
                spark, store, fields, "pop", "hyp", modifier=modifier,
                missing=missing,
            )
        return
    build_factor_artifact(
        spark, store, fields, "pop", "hyp", modifier=modifier, missing=missing
    )
    pq = ParsedQuery(terms=["spark", "merge"], op="OR")
    pruned = function_score_topk(
        spark, store, pq, "hyp", k=5, boost_mode=boost_mode
    ).toPandas()
    full = function_score(
        spark, store, pq, fields, "pop", k=5, modifier=modifier,
        boost_mode=boost_mode, missing=missing,
    ).toPandas()
    assert list(pruned["doc_id"]) == list(full["doc_id"])
    np.testing.assert_allclose(pruned["factor"], full["factor"], atol=1e-9)
    np.testing.assert_allclose(pruned["final"], full["final"], atol=1e-9)
