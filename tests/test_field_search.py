"""Field-qualified search (multi-index collections, SURVEY.md §1 [K]).

The repo field is indexed alongside content; "repo:term" queries score
with the repo field's own avgdl. Verified against an independent pandas
BM25 with per-field stats.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
import pytest

from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.index import IndexStore
from fastcatsearch3_spark.operators import build as B
from fastcatsearch3_spark.operators.ingest import load_documents
from fastcatsearch3_spark.plans.query import parse_multifield, parse_query
from fastcatsearch3_spark.plans.search import search_index

CFG = EngineConfig(num_shards=4, indexed_fields=("content", "repo"))
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("field_index"))
    B.build_index(spark, load_documents(spark, SF), root, CFG)
    return IndexStore(root)


@pytest.fixture(scope="module")
def docs_pd(spark):
    return load_documents(spark, SF).select(
        "doc_id", "repo", "content"
    ).toPandas()


def test_parse_field_terms():
    pq = parse_query("repo:src1 spark", CFG)
    assert pq.terms == ["repo:src1", "spark"]
    with pytest.raises(ValueError, match="unknown search field"):
        parse_query("nosuch:src1", CFG)
    # content: prefix maps to the bare default field
    assert parse_query("content:spark", CFG).terms == ["spark"]


def _tok(s: str) -> list[str]:
    return re.findall(r"[a-z0-9]+", str(s).lower())


def _field_oracle(docs_pd: pd.DataFrame, qterms: list[tuple[str, str]],
                  k1=1.2, b=0.75, k=10) -> pd.DataFrame:
    """qterms: (field, token). AND-gated per-field BM25, per-field avgdl
    = total field tokens / n_docs."""
    n = len(docs_pd)
    toks = {
        "content": docs_pd["content"].map(_tok),
        "repo": docs_pd["repo"].map(_tok),
    }
    avgdl = {f: sum(len(t) for t in s) / n for f, s in toks.items()}
    rows: dict[int, list[float]] = {}
    for fld, term in qterms:
        s = toks[fld]
        tf = s.map(lambda t: t.count(term))
        df = int((tf > 0).sum())
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for i in np.nonzero(tf.to_numpy())[0]:
            dl = len(s.iloc[i])
            v = idf * tf.iloc[i] * (k1 + 1) / (
                tf.iloc[i] + k1 * (1 - b + b * dl / avgdl[fld])
            )
            rows.setdefault(i, []).append(v)
    items = [
        (int(docs_pd["doc_id"].iloc[i]), sum(vs))
        for i, vs in rows.items()
        if len(vs) == len(qterms)
    ]
    items.sort(key=lambda x: (-x[1], x[0]))
    return pd.DataFrame(items[:k], columns=["doc_id", "score"])


def test_field_search_rank_identical(spark, store, docs_pd):
    got = search_index(
        spark, store, parse_query("repo:src1 spark", CFG), k=10
    ).toPandas()
    want = _field_oracle(docs_pd, [("repo", "src1"), ("content", "spark")])
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_allclose(
        got["score"].to_numpy(), want["score"].to_numpy(), atol=1e-9
    )
    # every hit really is in src1
    src = docs_pd.set_index("doc_id").loc[got["doc_id"], "repo"]
    assert (src == "src1").all()


def test_field_negation(spark, store, docs_pd):
    got = search_index(
        spark, store, parse_query("spark -repo:src1", CFG), k=200
    ).toPandas()
    src = docs_pd.set_index("doc_id").loc[got["doc_id"], "repo"]
    assert (src != "src1").all()
    assert len(got) > 0


def test_parse_multifield_structure():
    pq = parse_multifield("spark src1", {"content": 1.0, "repo": 2.0}, CFG)
    assert pq.terms == ["spark", "repo:spark", "src1", "repo:src1"]
    # token i of each word forms ONE group spanning both fields
    assert pq.groups == [(0,), (0,), (1,), (1,)]
    assert pq.boosts == {
        "spark": 1.0, "repo:spark": 2.0, "src1": 1.0, "repo:src1": 2.0,
    }
    neg = parse_multifield("spark -src1", {"content": 1.0, "repo": 2.0}, CFG)
    assert neg.not_terms == ["src1", "repo:src1"]
    with pytest.raises(ValueError, match="unknown search field"):
        parse_multifield("spark", {"nosuch": 1.0}, CFG)


def _multifield_oracle(
    docs_pd: pd.DataFrame,
    words: list[str],
    weights: dict[str, float],
    k1=1.2, b=0.75, k=10,
) -> pd.DataFrame:
    """Weighted-sum multifield BM25: each word must match in >=1 field;
    every matching field contributes weight * BM25_field."""
    n = len(docs_pd)
    toks = {
        "content": docs_pd["content"].map(_tok),
        "repo": docs_pd["repo"].map(_tok),
    }
    avgdl = {f: sum(len(t) for t in s) / n for f, s in toks.items()}
    scores: dict[int, float] = {}
    matched: dict[int, set[int]] = {}
    for gi, word in enumerate(words):
        for fld, wgt in weights.items():
            s = toks[fld]
            tf = s.map(lambda t: t.count(word))
            df = int((tf > 0).sum())
            if df == 0:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for i in np.nonzero(tf.to_numpy())[0]:
                dl = len(s.iloc[i])
                v = wgt * idf * tf.iloc[i] * (k1 + 1) / (
                    tf.iloc[i] + k1 * (1 - b + b * dl / avgdl[fld])
                )
                scores[i] = scores.get(i, 0.0) + v
                matched.setdefault(i, set()).add(gi)
    items = [
        (int(docs_pd["doc_id"].iloc[i]), sc)
        for i, sc in scores.items()
        if len(matched[i]) == len(words)
    ]
    items.sort(key=lambda x: (-x[1], x[0]))
    return pd.DataFrame(items[:k], columns=["doc_id", "score"])


def test_multifield_rank_identical(spark, store, docs_pd):
    weights = {"content": 1.0, "repo": 2.0}
    got = search_index(
        spark, store, parse_multifield("spark src1", weights, CFG), k=10
    ).toPandas()
    want = _multifield_oracle(docs_pd, ["spark", "src1"], weights)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_allclose(
        got["score"].to_numpy(), want["score"].to_numpy(), atol=1e-9
    )
    # "src1" can only match via the repo field on this corpus → AND gate
    # must still pass through the cross-field group
    src = docs_pd.set_index("doc_id").loc[got["doc_id"], "repo"]
    assert (src == "src1").all()


def test_multifield_weight_scales_score(spark, store, docs_pd):
    """Doubling a field's weight doubles that field's contribution: for a
    one-word query matching only in repo, scores scale exactly 2x."""
    lo = search_index(
        spark, store, parse_multifield("src1", {"repo": 1.0}, CFG), k=10
    ).toPandas()
    hi = search_index(
        spark, store, parse_multifield("src1", {"repo": 2.0}, CFG), k=10
    ).toPandas()
    assert lo["doc_id"].tolist() == hi["doc_id"].tolist()
    np.testing.assert_allclose(
        hi["score"].to_numpy(), 2.0 * lo["score"].to_numpy(), atol=1e-9
    )


def test_unqualified_results_unchanged_by_field_indexing(spark, store, tmp_path_factory):
    """Adding the repo index must not change plain content-query scores
    (content stats unaffected by other fields)."""
    root = str(tmp_path_factory.mktemp("plain_index"))
    cfg = EngineConfig(num_shards=4)
    B.build_index(spark, load_documents(spark, SF), root, cfg)
    plain = search_index(
        spark, IndexStore(root), parse_query("spark merge", cfg), k=10
    ).toPandas()
    multi = search_index(
        spark, store, parse_query("spark merge", CFG), k=10
    ).toPandas()
    assert plain["doc_id"].tolist() == multi["doc_id"].tolist()
    np.testing.assert_allclose(
        plain["score"].to_numpy(), multi["score"].to_numpy(), atol=1e-12
    )


# ---------------------------------------------------------------------------
# TRUE BM25F (SURVEY §10.2) vs the qf weighted-sum mode
# ---------------------------------------------------------------------------

def _bm25f_expected(docs_pd, bases, weights, k1, b):
    """Independent pandas BM25F: merged weighted normalized tf, single
    saturation, doc-level union-df idf."""
    n = len(docs_pd)
    ctoks = docs_pd["content"].map(lambda s: re.findall(r"[a-z0-9]+", s.lower()))
    rtoks = docs_pd["repo"].map(lambda s: re.findall(r"[a-z0-9]+", s.lower()))
    cav = ctoks.map(len).sum() / n
    rav = rtoks.map(len).sum() / n
    scores = {}
    for _, row in docs_pd.iterrows():
        scores[row["doc_id"]] = {}
    tft_all = {}
    for base in bases:
        tft = {}
        for doc_id, ct, rt in zip(docs_pd["doc_id"], ctoks, rtoks):
            v = 0.0
            tc = ct.count(base)
            if tc:
                v += weights["content"] * tc / (1 - b + b * len(ct) / cav)
            tr = rt.count(base)
            if tr:
                v += weights["repo"] * tr / (1 - b + b * len(rt) / rav)
            if v > 0:
                tft[doc_id] = v
        tft_all[base] = tft
    out = {}
    for base in bases:
        dfu = len(tft_all[base])
        idf = math.log(1 + (n - dfu + 0.5) / (dfu + 0.5))
        for doc_id, v in tft_all[base].items():
            s, nw = out.get(doc_id, (0.0, 0))
            out[doc_id] = (s + idf * v * (k1 + 1) / (k1 + v), nw + 1)
    rows = [
        (doc_id, s) for doc_id, (s, nw) in out.items() if nw == len(bases)
    ]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows


def test_bm25f_matches_reference_formula(spark, store, docs_pd):
    from fastcatsearch3_spark.plans.search import search_bm25f

    weights = {"content": 1.0, "repo": 2.0}
    got = search_bm25f(spark, store, "spark src1", weights, k=10).toPandas()
    want = _bm25f_expected(
        docs_pd, ["spark", "src1"], weights, CFG.k1, CFG.b
    )[:10]
    assert got["doc_id"].tolist() == [d for d, _ in want]
    np.testing.assert_allclose(
        got["score"].to_numpy(), [s for _, s in want], rtol=0, atol=1e-9
    )


def test_bm25f_differs_from_qf_on_crafted_docs(spark, tmp_path):
    """The separating example: under qf (weighted sum of independently
    SATURATED per-field scores) a term spread across two fields earns two
    saturation budgets and outranks a doc with the same total tf in one
    field; under TRUE BM25F the merged tf saturates once and the ranking
    flips."""
    from fastcatsearch3_spark.operators.ingest import normalize_corpus
    from fastcatsearch3_spark.plans.search import search_bm25f, search_index

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "target target target target pad",  # heavy in content only
                "target pad pad pad pad",            # spread: content + repo
                "filler words here pad pad",
                "other filler pad pad pad",
            ],
            "source": ["alpha", "target", "alpha", "beta"],
            "lang": "en",
            "n_chars": 10,
        }
    )
    cfg = EngineConfig(num_shards=2, indexed_fields=("content", "repo"))
    root = str(tmp_path / "idx")
    B.build_index(
        spark, normalize_corpus(spark.createDataFrame(pdf)), root, cfg
    )
    st = IndexStore(root)
    weights = {"content": 1.0, "repo": 1.0}

    qf = search_index(
        spark, st, parse_multifield("target", weights, cfg), k=4
    ).toPandas()
    f = search_bm25f(spark, st, "target", weights, k=4).toPandas()

    assert set(qf["doc_id"]) == set(f["doc_id"]) == {1, 2}
    # qf: doc 2 collects two saturated contributions -> beats doc 1;
    # BM25F: one merged saturation -> doc 1's concentrated tf wins
    assert qf["doc_id"].tolist()[0] == 2
    assert f["doc_id"].tolist()[0] == 1


def test_bm25f_batch_matches_single(spark, store, docs_pd):
    """search_many with a Bm25fQuery spec scores like the independent
    pandas BM25F (the formula search_bm25f is pinned to above), and
    coexists with lexical queries in the same batch/kernel pass."""
    import numpy as np

    from fastcatsearch3_spark.plans.query import ParsedQuery
    from fastcatsearch3_spark.plans.search import Bm25fQuery, search_many

    weights = {"content": 1.0, "repo": 2.0}
    want = _bm25f_expected(
        docs_pd, ["spark", "src1"], weights, CFG.k1, CFG.b
    )[:10]
    batch = search_many(
        spark,
        store,
        {
            "f": Bm25fQuery("spark src1", weights),
            "lex": ParsedQuery(terms=["spark"], op="AND"),
        },
        k=10,
    ).toPandas()
    got = batch[batch["query_id"] == "f"].reset_index(drop=True)
    assert got["doc_id"].tolist() == [d for d, _ in want]
    np.testing.assert_allclose(
        got["score"].to_numpy(), [s for _, s in want], rtol=0, atol=1e-9
    )
    assert (batch["query_id"] == "lex").sum() == 10
