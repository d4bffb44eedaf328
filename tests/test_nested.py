"""Nested boolean clause trees (the reference's arbitrarily nested
core:ir.query.Clause tree — SURVEY.md Q-1 "What's missing #5" in VERDICT
r01).

Layers: parser shape tests, positivity guard, kernel vs an independent
per-doc brute-force evaluator of the matched-subtree semantics (full
result set, not just top-k), and the declarative match_doc_ids gate.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pytest

from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.index import IndexStore
from fastcatsearch3_spark.operators.build import build_index
from fastcatsearch3_spark.operators.ingest import load_documents
from fastcatsearch3_spark.plans.query import (
    Node,
    assert_positive,
    parse_query,
    tree_terms,
)
from fastcatsearch3_spark.plans.search import match_doc_ids, search_index

CFG = EngineConfig(num_shards=4)
SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

def test_flat_queries_have_no_tree():
    assert parse_query("spark merge", CFG).tree is None
    assert parse_query("spark OR merge", CFG).tree is None


def test_or_of_ands():
    pq = parse_query("(spark merge) OR (vector stream)", CFG)
    t = pq.tree
    assert t is not None and t.kind == "or" and len(t.children) == 2
    assert [c.kind for c in t.children] == ["and", "and"]
    assert [l.term for l in t.children[0].children] == ["spark", "merge"]
    assert [l.term for l in t.children[1].children] == ["vector", "stream"]
    assert pq.terms == ["spark", "merge", "vector", "stream"]
    assert pq.not_terms == []


def test_and_of_or_with_top_level_not():
    pq = parse_query("((spark merge) OR (vector stream)) -slow", CFG)
    t = pq.tree
    assert t.kind == "and"
    assert t.children[0].kind == "or"
    assert t.children[1].kind == "not"
    assert t.children[1].children[0].term == "slow"
    assert pq.not_terms == ["slow"]


def test_not_inside_branch():
    pq = parse_query("(spark -merge) OR stream", CFG)
    t = pq.tree
    assert t.kind == "or"
    left = t.children[0]
    assert left.kind == "and"
    assert left.children[1].kind == "not"


def test_msm_inside_parens():
    pq = parse_query("(vector stream table ~2)", CFG)
    t = pq.tree
    assert t.kind == "or" and t.msm == 2 and len(t.children) == 3


def test_camel_case_word_fans_out():
    pq = parse_query("(parseIndexBuffer) OR stream", CFG)
    left = pq.tree.children[0]
    assert left.kind == "and"
    assert [l.term for l in left.children] == ["parse", "index", "buffer"]


def test_synonyms_become_or_subtrees():
    pq = parse_query("(spark merge) OR stream", CFG, synonyms={"spark": ["flink"]})
    leaf = pq.tree.children[0].children[0]
    assert leaf.kind == "or"
    assert [l.term for l in leaf.children] == ["spark", "flink"]


def test_pure_negation_rejected():
    with pytest.raises(ValueError, match="positive"):
        parse_query("(-spark)", CFG)
    with pytest.raises(ValueError, match="positive"):
        parse_query("(spark OR -merge)", CFG)
    # NOT under AND next to a positive clause is fine
    parse_query("(spark -merge) OR stream", CFG)


def test_unbalanced_parens_rejected():
    with pytest.raises(ValueError):
        parse_query("(spark merge", CFG)
    with pytest.raises(ValueError):
        parse_query("spark) merge", CFG)


def test_tree_terms_contexts():
    pq = parse_query("(spark -merge) OR (merge stream)", CFG)
    pos, neg = tree_terms(pq.tree)
    # merge is positive somewhere → not reported as negative-only
    assert pos == ["spark", "merge", "stream"]
    assert neg == []


def test_assert_positive_false_node_is_safe():
    assert_positive(Node("or", children=(Node("false"), Node("term", term="a"))))


# ---------------------------------------------------------------------------
# kernel vs brute force
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("nested_index"))
    build_index(spark, load_documents(spark, SF), root, CFG)
    return IndexStore(root)


@pytest.fixture(scope="module")
def corpus_stats(spark):
    """(per-doc tf dicts, df map, dl map, n_docs, avgdl) from raw text."""
    rows = load_documents(spark, SF).select("doc_id", "content").collect()
    tfs: dict[int, dict[str, int]] = {}
    for r in rows:
        toks = re.findall(r"[a-z0-9]+", str(r["content"]).lower())
        d: dict[str, int] = {}
        for t in toks:
            d[t] = d.get(t, 0) + 1
        tfs[int(r["doc_id"])] = d
    df: dict[str, int] = {}
    for d in tfs.values():
        for t in d:
            df[t] = df.get(t, 0) + 1
    dl = {i: sum(d.values()) for i, d in tfs.items()}
    n = len(tfs)
    avgdl = sum(dl.values()) / n
    return tfs, df, dl, n, avgdl


def _brute_scores(tree: Node, corpus_stats, k1=1.2, b=0.75):
    """Independent matched-subtree evaluation, one doc at a time."""
    tfs, df, dl, n, avgdl = corpus_stats

    def contrib(term: str, doc: int) -> float:
        tf = tfs[doc].get(term, 0)
        if tf == 0:
            return 0.0
        idf = math.log(1.0 + (n - df.get(term, 0) + 0.5) / (df.get(term, 0) + 0.5))
        return idf * tf * (k1 + 1.0) / (
            tf + k1 * (1.0 - b + b * dl[doc] / avgdl)
        )

    def ev(node: Node, doc: int) -> tuple[bool, float]:
        if node.kind == "term":
            p = node.term in tfs[doc]
            return p, contrib(node.term, doc) if p else 0.0
        if node.kind == "false":
            return False, 0.0
        if node.kind == "not":
            m, _ = ev(node.children[0], doc)
            return (not m), 0.0
        kids = [ev(c, doc) for c in node.children]
        score = sum(s for _, s in kids)
        if node.kind == "and":
            ok = all(m for m, _ in kids)
        else:
            need = node.msm if node.msm is not None else 1
            ok = sum(1 for m, _ in kids if m) >= need
        return ok, (score if ok else 0.0)

    out = {}
    for doc in tfs:
        ok, s = ev(tree, doc)
        if ok:
            out[doc] = s
    return out


NESTED_QUERIES = [
    "(spark merge) OR (vector stream)",
    "((spark merge) OR (vector stream)) -slow",
    "(spark -merge) OR (vector stream)",
    "table (vector OR stream OR merge)",
    "(vector stream table ~2)",
    "(spark OR flink) (merge OR segment)",
    # a term both a scoring leaf and a NOT leaf
    "(spark merge) OR (vector -spark)",
]


@pytest.mark.parametrize("qtext", NESTED_QUERIES)
def test_nested_search_matches_bruteforce(spark, store, corpus_stats, qtext):
    pq = parse_query(qtext, CFG)
    assert pq.tree is not None
    got = search_index(spark, store, pq, k=100_000).toPandas()
    want = _brute_scores(pq.tree, corpus_stats)
    assert set(got["doc_id"]) == set(want)
    got_sorted = got.sort_values("doc_id")
    np.testing.assert_allclose(
        got_sorted["score"].to_numpy(),
        np.array([want[d] for d in got_sorted["doc_id"]]),
        rtol=1e-9,
    )


def test_nested_batch_matches_bruteforce(spark, store, corpus_stats):
    """search_many scores every tree of one batch like the brute force."""
    from fastcatsearch3_spark.plans.search import search_many

    got = search_many(
        spark, store, {q: parse_query(q, CFG) for q in NESTED_QUERIES},
        k=100_000,
    ).toPandas()
    for qtext in NESTED_QUERIES:
        want = _brute_scores(parse_query(qtext, CFG).tree, corpus_stats)
        g = got[got["query_id"] == qtext].sort_values("doc_id")
        assert set(g["doc_id"]) == set(want), qtext
        np.testing.assert_allclose(
            g["score"].to_numpy(),
            np.array([want[d] for d in g["doc_id"]]),
            rtol=1e-9,
        )


def test_nested_topk_ordering(spark, store, corpus_stats):
    qtext = "(spark merge) OR (vector stream)"
    pq = parse_query(qtext, CFG)
    got = search_index(spark, store, pq, k=10).toPandas()
    want = _brute_scores(pq.tree, corpus_stats)
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got["doc_id"].tolist() == [d for d, _ in expect]


def test_duplicate_leaf_scores_twice(spark, store, corpus_stats):
    """Lucene BooleanQuery semantics: a term appearing at two leaves
    contributes at each matched leaf."""
    pq = parse_query("(spark) OR (spark merge)", CFG)
    got = search_index(spark, store, pq, k=100_000).toPandas()
    want = _brute_scores(pq.tree, corpus_stats)
    assert set(got["doc_id"]) == set(want)
    gs = got.sort_values("doc_id")
    np.testing.assert_allclose(
        gs["score"].to_numpy(),
        np.array([want[d] for d in gs["doc_id"]]),
        rtol=1e-9,
    )


def test_match_doc_ids_tree(spark, store, corpus_stats):
    for qtext in NESTED_QUERIES:
        pq = parse_query(qtext, CFG)
        got = {r["doc_id"] for r in match_doc_ids(spark, store, pq).collect()}
        want = set(_brute_scores(pq.tree, corpus_stats))
        assert got == want, qtext


def test_tree_with_unindexed_term(spark, store, corpus_stats):
    """A leaf term absent from the corpus matches nowhere but doesn't
    poison its OR siblings."""
    pq = parse_query("(zzzqqqxyz merge) OR (vector stream)", CFG)
    got = search_index(spark, store, pq, k=100_000).toPandas()
    want = _brute_scores(pq.tree, corpus_stats)
    assert set(got["doc_id"]) == set(want)
