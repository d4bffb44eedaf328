"""One corpus, three source plans, one index.

``build_segment`` skips the staged checkpoint only when the corpus plan
re-evaluates to the same rows in the same partition order in every job
(``operators.build._order_stable_plan``): its leaves must all be file
scans or existing-RDD scans. ``createDataFrame`` of a pandas frame plans
as ``Scan ExistingRDD`` with Arrow off but as a ``LocalTableScan`` with
Arrow on, into which the optimiser folds the corpus projections; the
docmap and postings passes then assigned different docnos, and the
index returned docs without the query terms. The three builds below
must answer every query identically and pass fsck."""

from __future__ import annotations

import pytest

from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.index import IndexStore
from fastcatsearch3_spark.operators.build import _order_stable_plan, build_index
from fastcatsearch3_spark.operators.fsck import fsck_index
from fastcatsearch3_spark.operators.ingest import normalize_corpus
from fastcatsearch3_spark.plans.search import search_index
from fixtures.gen_corpus import gen_corpus

ARROW = "spark.sql.execution.arrow.pyspark.enabled"
CFG = EngineConfig(num_shards=4)


def _build(spark, corpus, root):
    build_index(spark, corpus, root, CFG)
    return IndexStore(root)


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    pdf = gen_corpus(2000, seed=21)
    out = {}
    prev = spark.conf.get(ARROW, "false")
    try:
        for arrow in ("false", "true"):
            spark.conf.set(ARROW, arrow)
            corpus = normalize_corpus(spark.createDataFrame(pdf))
            out[f"arrow_{arrow}"] = (
                _order_stable_plan(corpus),
                _build(spark, corpus, str(tmp_path_factory.mktemp(f"a_{arrow}"))),
            )
    finally:
        spark.conf.set(ARROW, prev)
    src = tmp_path_factory.mktemp("src") / "corpus.parquet"
    pdf.to_parquet(src, index=False)
    corpus = normalize_corpus(spark.read.parquet(str(src)))
    out["parquet"] = (
        _order_stable_plan(corpus),
        _build(spark, corpus, str(tmp_path_factory.mktemp("pq"))),
    )
    return pdf, out


def test_plan_leaves_choose_the_build_path(stores):
    _, out = stores
    # Arrow off (what the tests and benchmarks build from) and a parquet
    # scan keep skipping the checkpoint; a LocalTableScan takes it
    assert out["arrow_false"][0] is True
    assert out["parquet"][0] is True
    assert out["arrow_true"][0] is False


def test_sources_give_identical_answers(spark, stores):
    pdf, out = stores
    words = pdf["content"].iloc[0].split()[:3]
    queries = [
        "master", "prof OR util", "master AND util", words[0],
        f"{words[0]} {words[1]}", f"{words[1]} OR {words[2]}",
    ]
    answers = {}
    for name, (_, store) in out.items():
        assert fsck_index(spark, store)["ok"], name
        answers[name] = [
            [tuple(r) for r in search_index(spark, store, q, k=10).collect()]
            for q in queries
        ]
    assert any(answers["parquet"]), "no query matched"
    assert answers["arrow_true"] == answers["parquet"]
    assert answers["arrow_false"] == answers["parquet"]
