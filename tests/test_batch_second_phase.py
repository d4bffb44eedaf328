"""Batch second-phase ranking (VERDICT r04 next-round #7): rescore_many
and function_score_many share one postings scan + one kernel pass per
phase across the batch, and each query's rows must equal an independent
per-query reference: a blend of two plain ``search_index`` calls for
rescore, the full-evaluation ``function_score`` for function_score.
(rescore_topk / function_score_topk are one-query calls of these.)"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.index import IndexStore
from fastcatsearch3_spark.operators.build import build_index
from fastcatsearch3_spark.operators.ingest import normalize_corpus
from fastcatsearch3_spark.plans.query import ParsedQuery
from fastcatsearch3_spark.plans.search import (
    build_factor_artifact,
    function_score,
    function_score_many,
    rescore_many,
    search_index,
)

CFG = EngineConfig(num_shards=2, store_positions=True)

ROWS = [
    (1, "spark merge table fast scan", 3.0),
    (2, "slow merge line table query spark", 50.0),
    (3, "merge merge merge stable spark", 7.0),
    (4, "spark slow value tables window", 900.0),
    (5, "query window scan merge spark table", 1.0),
    (6, "spark table merge fast line", 20.0),
    (7, "window scan line value", 4.0),
    (8, "fast scan spark window merge", 0.5),
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
def store(spark, corpus_pd, tmp_path_factory) -> IndexStore:
    root = str(tmp_path_factory.mktemp("idx"))
    build_index(
        spark, normalize_corpus(spark.createDataFrame(corpus_pd)), root, CFG
    )
    return IndexStore(root)


RESCORE_BATCH = {
    "a": ("spark merge", '"merge table"'),
    "b": ("spark", '"fast scan"'),
    "c": ("window scan", "merge table"),
    "d": ("value", "zzz_absent"),  # rescore query matches nothing
}


def _rescore_reference(spark, store, q, rq, k, window, qw, rw):
    """Rescore by hand: the first pass's top-window, each window doc's
    unrestricted score for the rescore query (0 when it does not match),
    blended and re-ranked (score desc, doc_id asc)."""
    first = search_index(spark, store, q, k=window).toPandas()
    second = dict(
        (int(d), s)
        for d, s in search_index(spark, store, rq, k=len(ROWS)).collect()
    )
    first["rescore"] = [second.get(int(d), 0.0) for d in first["doc_id"]]
    first["final"] = qw * first["score"] + rw * first["rescore"]
    return first.sort_values(
        ["final", "doc_id"], ascending=[False, True]
    ).head(k).reset_index(drop=True)


def test_rescore_many_matches_per_query(spark, store):
    batch = rescore_many(
        spark, store, RESCORE_BATCH, k=5, window=6,
        query_weight=1.0, rescore_weight=2.0,
    ).toPandas()
    for qid, (q, rq) in RESCORE_BATCH.items():
        want = _rescore_reference(spark, store, q, rq, 5, 6, 1.0, 2.0)
        got = batch[batch["query_id"] == qid].reset_index(drop=True)
        assert list(got["doc_id"]) == list(want["doc_id"]), qid
        np.testing.assert_allclose(got["score"], want["final"], atol=1e-9)
        np.testing.assert_allclose(
            got["first_score"], want["score"], atol=1e-9
        )
        np.testing.assert_allclose(
            got["rescore"], want["rescore"], atol=1e-9
        )


def test_rescore_many_empty_and_window_guard(spark, store):
    assert rescore_many(spark, store, {}, k=3).count() == 0
    with pytest.raises(ValueError, match="window"):
        rescore_many(spark, store, RESCORE_BATCH, k=20, window=5)


FS_BATCH = {
    "x": ParsedQuery(terms=["spark", "merge"], op="OR"),
    "y": ParsedQuery(terms=["spark", "table"], op="AND"),
    "z": ParsedQuery(terms=["window"], not_terms=["value"], op="OR"),
}


@pytest.mark.parametrize("boost_mode", ["multiply", "sum"])
def test_function_score_many_matches_per_query(
    spark, store, corpus_pd, boost_mode
):
    fields = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [r[0] for r in ROWS], "pop": [r[2] for r in ROWS]}
        )
    )
    build_factor_artifact(spark, store, fields, "pop", f"b_{boost_mode}")
    batch = function_score_many(
        spark, store, FS_BATCH, f"b_{boost_mode}", k=5,
        boost_mode=boost_mode,
    ).toPandas()
    for qid, pq in FS_BATCH.items():
        full = function_score(
            spark, store, pq, fields, "pop", k=5, boost_mode=boost_mode
        ).toPandas()
        got = batch[batch["query_id"] == qid].reset_index(drop=True)
        assert list(got["doc_id"]) == list(full["doc_id"]), qid
        np.testing.assert_allclose(got["final"], full["final"], atol=1e-9)
        np.testing.assert_allclose(
            got["factor"], full["factor"], atol=1e-9
        )
        np.testing.assert_allclose(got["score"], full["score"], atol=1e-9)


def test_function_score_many_rejects_general_forms(spark, store, corpus_pd):
    fields = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "pop": [1.0, 2.0]})
    )
    build_factor_artifact(spark, store, fields, "pop", "rej")
    with pytest.raises(ValueError, match="flat"):
        function_score_many(
            spark, store, {"p": '"spark merge"'}, "rej", k=3
        )
