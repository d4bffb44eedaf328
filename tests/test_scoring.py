"""Kernel correctness: bmw pruning must be rank-identical to exhaustive
taat, and both must match an independent brute-force (SURVEY.md §5.2,
§7 M6 'assert pruned ≡ unpruned top-k')."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fastcatsearch3_spark.functions.vbyte import encode_postings
from fastcatsearch3_spark.plans.scoring import (
    TermPostings,
    bm25_idf,
    bm25_tf_norm,
    score_group,
)

K1, B = 1.2, 0.75


def make_corpus(rng, n_docs=3000, n_terms=8, zipf_hot=True):
    """Random per-term postings over docnos [0, n_docs); returns
    (terms, dense tf matrix, dls)."""
    dls = rng.integers(5, 500, size=n_docs).astype(np.int64)
    mat = np.zeros((n_terms, n_docs), dtype=np.int64)
    for t in range(n_terms):
        density = 0.6 if (zipf_hot and t == 0) else rng.uniform(0.01, 0.2)
        mask = rng.random(n_docs) < density
        mat[t, mask] = rng.integers(1, 20, size=int(mask.sum()))
    return mat, dls


def build_tps(mat, dls, n_docs_total, block_size=64):
    tps = []
    for t in range(mat.shape[0]):
        docnos = np.nonzero(mat[t])[0].astype(np.uint64)
        if docnos.size == 0:
            continue
        tfs = mat[t, docnos.astype(np.int64)].astype(np.uint64)
        dl = dls[docnos.astype(np.int64)].astype(np.uint64)
        blob = encode_postings(docnos, tfs, dl, block_size=block_size)
        df = int(docnos.size)
        tps.append(
            TermPostings(
                term=f"t{t}", idf=float(bm25_idf(n_docs_total, df)), blob=blob
            )
        )
    return tps


def brute_force(mat, dls, tps_idx, avgdl, n_docs_total, op="OR"):
    """Independent dense scoring."""
    n_docs = mat.shape[1]
    acc = np.zeros(n_docs)
    hits = np.zeros(n_docs, dtype=int)
    for t in tps_idx:
        row = mat[t]
        present = row > 0
        df = int(present.sum())
        if df == 0:
            continue
        idf = bm25_idf(n_docs_total, df)
        s = idf * bm25_tf_norm(row[present], dls[present], K1, B, avgdl)
        acc[present] += s
        hits[present] += 1
    need = len(tps_idx) if op == "AND" else 1
    cand = np.nonzero(hits >= need)[0]
    return cand, acc[cand]


def topk_ref(cand, scores, k):
    order = np.lexsort((cand, -scores))[:k]
    return cand[order], scores[order]


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("op", ["OR", "AND"])
@pytest.mark.parametrize("k", [1, 10, 100])
def test_modes_match_bruteforce(seed, op, k):
    rng = np.random.default_rng(seed)
    mat, dls = make_corpus(rng)
    n_docs = mat.shape[1]
    avgdl = float(dls.mean())
    tps = build_tps(mat, dls, n_docs)
    idx = list(range(mat.shape[0]))

    ref_c, ref_s = brute_force(mat, dls, idx, avgdl, n_docs, op)
    want_d, want_s = topk_ref(ref_c, ref_s, k)

    for mode in ("taat", "bmw"):
        got_d, got_s = score_group(
            tps, k=k, op=op, mode=mode, k1=K1, b=B, avgdl=avgdl
        )
        assert got_d.astype(np.int64).tolist() == want_d.tolist(), mode
        np.testing.assert_allclose(got_s, want_s, atol=1e-9, err_msg=mode)


def test_not_terms_and_filters():
    rng = np.random.default_rng(7)
    mat, dls = make_corpus(rng, n_terms=4)
    n_docs = mat.shape[1]
    avgdl = float(dls.mean())
    tps = build_tps(mat, dls, n_docs)
    pos, neg = tps[:3], [tps[3]]

    got_d, got_s = score_group(
        pos, k=50, op="OR", mode="bmw", k1=K1, b=B, avgdl=avgdl, not_terms=neg
    )
    # no returned doc may contain the NOT term
    neg_docs = set(np.nonzero(mat[3])[0].tolist())
    assert not (set(got_d.astype(np.int64).tolist()) & neg_docs)

    # ... and must equal brute force minus neg docs
    ref_c, ref_s = brute_force(mat, dls, [0, 1, 2], avgdl, n_docs, "OR")
    keep = ~np.isin(ref_c, list(neg_docs))
    want_d, want_s = topk_ref(ref_c[keep], ref_s[keep], 50)
    assert got_d.astype(np.int64).tolist() == want_d.tolist()
    np.testing.assert_allclose(got_s, want_s, atol=1e-9)

    # allow filter: only even docnos pass
    allow = np.arange(0, n_docs, 2, dtype=np.uint64)
    got_d, got_s = score_group(
        pos, k=50, op="OR", mode="bmw", k1=K1, b=B, avgdl=avgdl,
        allow_docnos=allow,
    )
    assert all(d % 2 == 0 for d in got_d.astype(np.int64).tolist())
    keep = ref_c % 2 == 0
    want_d, _ = topk_ref(ref_c[keep], ref_s[keep], 50)
    assert got_d.astype(np.int64).tolist() == want_d.tolist()

    # deny filter: no odd docnos... deny evens → only odds
    got_d, _ = score_group(
        pos, k=50, op="OR", mode="bmw", k1=K1, b=B, avgdl=avgdl,
        deny_docnos=allow,
    )
    assert all(d % 2 == 1 for d in got_d.astype(np.int64).tolist())


def test_single_term_and_missing_overlap():
    rng = np.random.default_rng(3)
    mat, dls = make_corpus(rng, n_docs=500, n_terms=2)
    # make the two terms disjoint → AND must be empty
    mat[1, mat[0] > 0] = 0
    if not (mat[1] > 0).any():
        mat[1, 0] = 3
        mat[0, 0] = 0
    n_docs = mat.shape[1]
    avgdl = float(dls.mean())
    tps = build_tps(mat, dls, n_docs)
    d, s = score_group(tps, k=10, op="AND", mode="bmw", k1=K1, b=B, avgdl=avgdl)
    assert d.size == 0
    d, s = score_group(tps[:1], k=10, op="OR", mode="bmw", k1=K1, b=B, avgdl=avgdl)
    assert d.size > 0


@pytest.mark.parametrize("seed", range(5))
def test_bmw_prunes_but_identical(seed):
    """Many-term OR where pruning actually kicks in; results must be
    identical to taat for every k."""
    rng = np.random.default_rng(100 + seed)
    mat, dls = make_corpus(rng, n_docs=5000, n_terms=12)
    n_docs = mat.shape[1]
    avgdl = float(dls.mean())
    tps = build_tps(mat, dls, n_docs, block_size=32)
    for k in (1, 5, 20):
        d1, s1 = score_group(tps, k=k, op="OR", mode="taat", k1=K1, b=B, avgdl=avgdl)
        d2, s2 = score_group(tps, k=k, op="OR", mode="bmw", k1=K1, b=B, avgdl=avgdl)
        assert d1.tolist() == d2.tolist()
        np.testing.assert_allclose(s1, s2, atol=1e-9)


@pytest.mark.parametrize("msm", [1, 2, 3])
def test_min_should_match(msm):
    """msm gating: OR with msm must equal brute force restricted to docs
    matching >= msm distinct terms; msm=1 == plain OR, msm=n == AND."""
    rng = np.random.default_rng(11)
    mat, dls = make_corpus(rng, n_terms=3)
    n_docs = mat.shape[1]
    avgdl = float(dls.mean())
    tps = build_tps(mat, dls, n_docs)

    acc = np.zeros(n_docs)
    hits = np.zeros(n_docs, dtype=int)
    for t in range(3):
        row = mat[t]
        present = row > 0
        idf = bm25_idf(n_docs, int(present.sum()))
        acc[present] += idf * bm25_tf_norm(row[present], dls[present], K1, B, avgdl)
        hits[present] += 1
    cand = np.nonzero(hits >= msm)[0]
    want_d, want_s = topk_ref(cand, acc[cand], 50)

    got_d, got_s = score_group(
        tps, k=50, op="OR", mode="bmw", k1=K1, b=B, avgdl=avgdl, msm=msm
    )
    assert got_d.astype(np.int64).tolist() == want_d.tolist()
    np.testing.assert_allclose(got_s, want_s, atol=1e-9)


def test_search_many_matches_per_query(spark):
    """Batch execution == per-query search_index for every member query
    (AND, OR, NOT, boost), including scores."""
    import tempfile

    import pandas as pd

    from fastcatsearch3_spark.config import EngineConfig
    from fastcatsearch3_spark.index import IndexStore
    from fastcatsearch3_spark.operators.build import build_index
    from fastcatsearch3_spark.operators.ingest import load_documents
    from fastcatsearch3_spark.plans.query import parse_query
    from fastcatsearch3_spark.plans.search import search_index, search_many

    cfg = EngineConfig(num_shards=4)
    corpus = load_documents(spark, "/root/testdata/sf0.001")
    root = tempfile.mkdtemp(prefix="fcs3_batch_")
    build_index(spark, corpus, root, cfg)
    store = IndexStore(root)
    qs = {
        "a": parse_query("spark merge", cfg),
        "b": parse_query("vector OR stream", cfg),
        "c": parse_query("table -hash", cfg),
        "d": parse_query("spark^2 merge", cfg),
    }
    got = search_many(spark, store, qs, k=10).toPandas()
    for qid, pq in qs.items():
        want = search_index(spark, store, pq, k=10).toPandas()
        g = got[got["query_id"] == qid].reset_index(drop=True)
        assert g["doc_id"].tolist() == want["doc_id"].tolist(), qid
        pd.testing.assert_series_equal(
            g["score"], want["score"], check_names=False
        )


def test_search_many_full_surface(spark):
    """Batch execution == per-query search_index across the FULL query
    surface: phrase, proximity, nested clause tree, prefix expansion, msm,
    and global + per-query allow filters (scores included)."""
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    from fastcatsearch3_spark.config import EngineConfig
    from fastcatsearch3_spark.index import IndexStore
    from fastcatsearch3_spark.operators.build import build_index
    from fastcatsearch3_spark.operators.ingest import load_documents
    from fastcatsearch3_spark.plans.search import search_index, search_many

    cfg = EngineConfig(num_shards=4, store_positions=True)
    corpus = load_documents(spark, "/root/testdata/sf0.001")
    root = tempfile.mkdtemp(prefix="fcs3_batchfull_")
    build_index(spark, corpus, root, cfg)
    store = IndexStore(root)
    qs = {
        "phrase": '"spark join"',
        "prox": '"spark join"~2',
        "tree": "(spark AND join) OR (vector AND NOT stream)",
        "prefix": "spar* AND join",
        "msm": "spark join vector stream ~2",
        "fuzzy": "sparl~1 join",
    }
    got = search_many(spark, store, qs, k=10).toPandas()
    for qid, q in qs.items():
        want = search_index(spark, store, q, k=10).toPandas()
        g = got[got["query_id"] == qid].reset_index(drop=True)
        assert g["doc_id"].tolist() == want["doc_id"].tolist(), qid
        np.testing.assert_allclose(g["score"], want["score"], atol=1e-12)

    # per-query allow filters: q1 → ids % 3 == 0, q2 → % 3 == 1, q3 open
    allow_a = corpus.where(F.col("doc_id") % 3 == 0).select("doc_id")
    allow_b = corpus.where(F.col("doc_id") % 3 == 1).select("doc_id")
    pq_allow = allow_a.withColumn("query_id", F.lit("q1")).unionByName(
        allow_b.withColumn("query_id", F.lit("q2"))
    )
    got = search_many(
        spark, store,
        {"q1": "spark join", "q2": "spark join", "q3": "spark join"},
        k=10, allow_doc_ids=pq_allow,
    ).toPandas()
    for qid, allow in [("q1", allow_a), ("q2", allow_b), ("q3", None)]:
        want = search_index(
            spark, store, "spark join", k=10, allow_doc_ids=allow
        ).toPandas()
        g = got[got["query_id"] == qid].reset_index(drop=True)
        assert g["doc_id"].tolist() == want["doc_id"].tolist(), qid
        np.testing.assert_allclose(g["score"], want["score"], atol=1e-12)

    # a global (untagged) allow restricts every query, phrases included
    got = search_many(
        spark, store, {"q1": "spark join", "q2": '"spark join"'},
        k=10, allow_doc_ids=allow_a,
    ).toPandas()
    for qid, q in [("q1", "spark join"), ("q2", '"spark join"')]:
        want = search_index(
            spark, store, q, k=10, allow_doc_ids=allow_a
        ).toPandas()
        g = got[got["query_id"] == qid].reset_index(drop=True)
        assert g["doc_id"].tolist() == want["doc_id"].tolist(), qid


def test_search_many_applies_deletes(spark, tmp_path):
    """Batch mode must exclude tombstoned docs exactly like search_index."""
    import pandas as pd

    from fastcatsearch3_spark import Collection, EngineConfig
    from fastcatsearch3_spark.operators.ingest import normalize_corpus
    from fastcatsearch3_spark.plans.search import search_index, search_many

    def _pdf(rows):
        return pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": "en",
                "source": "s",
                "n_chars": [len(r[1]) for r in rows],
            }
        )

    col = Collection(spark, str(tmp_path / "idx"), EngineConfig(num_shards=2))
    col.build(normalize_corpus(spark.createDataFrame(_pdf(
        [(1, "spark merge table"), (2, "spark merge rows"), (3, "other")]
    ))))
    col.delete(normalize_corpus(spark.createDataFrame(_pdf([(1, "x")]))))
    got = search_many(
        spark, col.store, {"q": "spark merge"}, k=10
    ).toPandas()
    want = search_index(spark, col.store, "spark merge", k=10).toPandas()
    assert got["doc_id"].tolist() == want["doc_id"].tolist() == [2]


def test_hybrid_search_blend(spark):
    """alpha=1 reduces to BM25 ranking (over docs WITH embeddings);
    alpha=0 ranks purely by cosine; blended is the exact affine mix."""
    import tempfile

    import numpy as np

    from fastcatsearch3_spark.config import EngineConfig
    from fastcatsearch3_spark.index import IndexStore
    from fastcatsearch3_spark.operators.build import build_index
    from fastcatsearch3_spark.operators.ingest import load_documents
    from fastcatsearch3_spark.plans.search import hybrid_search

    cfg = EngineConfig(num_shards=4)
    corpus = load_documents(spark, "/root/testdata/sf0.001")
    root = tempfile.mkdtemp(prefix="fcs3_hybrid_")
    build_index(spark, corpus, root, cfg)
    store = IndexStore(root)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    lex = hybrid_search(
        spark, store, "spark merge", emb, probe_id=0, k=10, alpha=1.0
    ).toPandas()
    assert (lex["blended"] == lex["score"]).all()
    # BM25-descending order preserved at alpha=1
    assert (np.diff(lex["score"].to_numpy()) <= 1e-12).all()

    mid = hybrid_search(
        spark, store, "spark merge", emb, probe_id=0, k=10, alpha=0.25
    ).toPandas()
    np.testing.assert_allclose(
        mid["blended"].to_numpy(),
        0.25 * mid["score"].to_numpy() + 0.75 * mid["cosine"].to_numpy(),
        atol=1e-12,
    )
    assert (mid["cosine"].abs() <= 1.0 + 1e-9).all()


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("op", ["OR", "AND"])
@pytest.mark.parametrize("boost_mode", ["multiply", "sum"])
def test_factored_selection_maps_back_to_its_bm25_and_factor(seed, op, boost_mode):
    """score_group_factored returns, per selected docno, the bm25 and the
    factor of THAT doc: the selection is mapped back by argsort +
    searchsorted over the unique candidate docnos."""
    from fastcatsearch3_spark.plans.scoring import score_group_factored

    rng = np.random.default_rng(seed)
    n_docs = 2000
    mat, dls = make_corpus(rng, n_docs=n_docs, n_terms=2 if op == "AND" else 4)
    tps = build_tps(mat, dls, n_docs)
    avgdl = float(dls.mean())
    factors = rng.uniform(0.5, 3.0, size=n_docs)
    sel, bm25, fac, finals = score_group_factored(
        tps, k=25, op=op, k1=K1, b=B, avgdl=avgdl, factors=factors,
        boost_mode=boost_mode,
    )
    cand, scores = brute_force(mat, dls, range(len(tps)), avgdl, n_docs, op=op)
    assert sel.size == min(25, cand.size) > 0
    ref = dict(zip(cand.tolist(), scores.tolist()))
    dn = sel.astype(np.int64)
    np.testing.assert_allclose(bm25, [ref[d] for d in dn.tolist()], rtol=1e-12)
    np.testing.assert_array_equal(fac, factors[dn])
    combined = bm25 * fac if boost_mode == "multiply" else bm25 + fac
    np.testing.assert_allclose(finals, combined, rtol=1e-12)


# ---------------------------------------------------------------------------
# Shared posting lists: a kernel call decodes each list once and every query
# of the batch reads that one decode. The answers must not move by a bit.
# ---------------------------------------------------------------------------

def _shared_corpus(seed: int, n_docs: int, block_size: int):
    """Four random posting lists with positions over ``n_docs`` short docs
    (short, so phrases match): term -> (blob, positions blob, df), dls."""
    from fastcatsearch3_spark.functions.vbyte import (
        encode_positions_blob,
        vbyte_encode,
    )

    rng = np.random.default_rng(seed)
    dls = rng.integers(2, 9, size=n_docs)
    lists = {}
    for t in range(4):
        docs = np.nonzero(rng.random(n_docs) < rng.uniform(0.2, 0.8))[0]
        if docs.size == 0:
            docs = np.array([int(rng.integers(n_docs))])
        runs = []
        for d in docs:
            tf = int(rng.integers(1, dls[d] + 1))
            pos = np.sort(rng.choice(int(dls[d]), size=tf, replace=False))
            gaps = np.diff(pos, prepend=0).astype(np.uint64)
            runs.append(vbyte_encode(gaps).tobytes())
        tfs = np.array(
            [np.count_nonzero(np.frombuffer(r, np.uint8) < 128) for r in runs],
            dtype=np.uint64,
        )
        blob = encode_postings(
            docs.astype(np.uint64), tfs, dls[docs].astype(np.uint64),
            block_size=block_size,
        )
        pos_blob = encode_positions_blob(np.array(runs, dtype=object), block_size)
        lists[f"t{t}"] = (blob, pos_blob, int(docs.size))
    return lists, dls


def _score_all(lists, dls, n_docs, k, make_tp):
    """Every scoring entry point over the lists: score_group under
    AND / OR / NOT / msm / tree / phrase specs, score_group_factored and
    score_bm25f. ``make_tp(term, idf)`` builds each TermPostings."""
    from fastcatsearch3_spark.plans.query import Node
    from fastcatsearch3_spark.plans.scoring import (
        score_bm25f,
        score_group_factored,
    )

    avgdl = float(dls.mean())
    idf = {t: float(bm25_idf(n_docs, df)) for t, (_, _, df) in lists.items()}

    def tps(*terms):
        return [make_tp(t, idf[t]) for t in terms]

    def leaf(t):
        return Node("term", term=t)

    kw = dict(k=k, k1=K1, b=B, avgdl=avgdl)
    tree = Node("or", children=(
        Node("and", children=(leaf("t0"), leaf("t1"))),
        Node("and", children=(leaf("t2"), Node("not", children=(leaf("t3"),)))),
    ))
    factors = np.linspace(0.5, 2.0, n_docs)
    out = [
        score_group(tps("t0", "t1", "t2"), op="OR", **kw),
        score_group(tps("t0", "t1", "t2"), op="OR", mode="taat", **kw),
        score_group(tps("t0", "t1"), op="AND", **kw),
        score_group(tps("t3", "t0", "t2"), op="AND", **kw),
        score_group(tps("t0", "t1"), op="OR", not_terms=tps("t3"), **kw),
        score_group(tps("t0", "t1", "t2"), op="AND", not_terms=tps("t3"), **kw),
        score_group(tps("t0", "t1", "t2", "t3"), op="OR", msm=2, **kw),
        score_group(
            tps("t0", "t1", "t2", "t3"), op="OR", tree=tree,
            tree_pos_terms={"t0", "t1", "t2"}, **kw,
        ),
        score_group(
            tps("t0", "t1"), op="AND", phrase_tps=[tps("t0", "t1")], **kw
        ),
        score_group(
            tps("t1", "t2", "t3"), op="OR", phrase_tps=[tps("t1", "t2")],
            phrase_slops=[1], phrase_only_terms={"t1", "t2"}, **kw,
        ),
        score_group_factored(
            tps("t0", "t1", "t2"), op="OR", factors=factors,
            boost_mode="multiply", **kw,
        ),
        score_group_factored(
            tps("t1", "t0"), op="AND", factors=factors, boost_mode="sum",
            not_terms=tps("t3"), **kw,
        ),
        score_bm25f(
            [(idf["t0"], [(1.0, make_tp("t0", idf["t0"])),
                          (0.5, make_tp("t1", idf["t1"]))]),
             (idf["t2"], [(1.0, make_tp("t2", idf["t2"]))])],
            **kw,
        ),
    ]
    return out


def _assert_same(got, want):
    assert len(got) == len(want)
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            assert a.dtype == b.dtype
            np.testing.assert_array_equal(a, b)


@given(
    seed=st.integers(0, 2**32 - 1),
    n_docs=st.integers(1, 300),
    block_size=st.sampled_from([2, 8, 64]),
    k=st.sampled_from([1, 5, 1000]),
)
@settings(max_examples=15, deadline=None)
def test_shared_lists_score_bit_identical(seed, n_docs, block_size, k):
    """The same answers, array for array and bit for bit, from fresh
    TermPostings (block probes), from TermPostings over already-decoded
    shared lists (probes search the decoded arrays), from shared lists
    decoded lazily as one batch of specs goes along, and from the lists
    of one batched pass (``PostingList.group``), all or some of them
    decoded eagerly."""
    from fastcatsearch3_spark.plans.scoring import PostingList

    lists, dls = _shared_corpus(seed, n_docs, block_size)

    def fresh(t, idf):
        blob, pos_blob, _ = lists[t]
        return TermPostings(term=t, idf=idf, blob=blob, pos_blob=pos_blob)

    want = _score_all(lists, dls, n_docs, k, fresh)

    decoded = {t: PostingList(blob, pos) for t, (blob, pos, _) in lists.items()}
    for pl in decoded.values():
        pl.entries()
        pl.positions()
    _assert_same(
        _score_all(lists, dls, n_docs, k,
                   lambda t, idf: TermPostings(t, idf, postings=decoded[t])),
        want,
    )

    lazy = {t: PostingList(blob, pos) for t, (blob, pos, _) in lists.items()}
    _assert_same(
        _score_all(lists, dls, n_docs, k,
                   lambda t, idf: TermPostings(t, idf, postings=lazy[t])),
        want,
    )

    # one kernel call's batched pass (entries and positions), with every
    # list within the eager budget, then with only the smallest one
    from unittest import mock

    from fastcatsearch3_spark.functions import vbyte

    for budget in (vbyte.BATCH_ENTRIES, min(df for *_, df in lists.values())):
        with mock.patch.object(vbyte, "BATCH_ENTRIES", budget):
            grouped = dict(zip(lists, PostingList.group(
                [blob for blob, _, _ in lists.values()],
                [pos for _, pos, _ in lists.values()],
            )))
        assert sum(pl.decoded for pl in grouped.values()) == (
            len(lists) if budget == vbyte.BATCH_ENTRIES else 1
        )
        _assert_same(
            _score_all(lists, dls, n_docs, k,
                       lambda t, idf: TermPostings(t, idf, postings=grouped[t])),
            want,
        )


@given(
    seed=st.integers(0, 2**32 - 1),
    block_size=st.sampled_from([2, 8, 64]),
    data=st.data(),
)
@settings(max_examples=20, deadline=None)
def test_probe_over_decoded_list_equals_block_probe(seed, block_size, data):
    """``_probe`` on a decoded list searches the decoded arrays; on a list
    not yet decoded it decodes only the candidates' blocks. Same member
    mask, same contributions."""
    from unittest import mock

    from fastcatsearch3_spark.plans import scoring

    n_docs = 400
    lists, dls = _shared_corpus(seed, n_docs, block_size)
    cand = np.array(
        sorted(data.draw(st.sets(st.integers(0, n_docs + 5), max_size=60))),
        dtype=np.uint64,
    )
    avgdl = float(dls.mean())
    for t, (blob, _, df) in lists.items():
        idf = float(bm25_idf(n_docs, df))
        tp = TermPostings(term=t, idf=idf, blob=blob)
        with mock.patch.object(
            scoring, "decode_blocks", wraps=scoring.decode_blocks
        ) as blocks:
            m1, c1 = scoring._probe(tp, cand, K1, B, avgdl)
        assert not tp.postings.decoded
        assert blocks.call_count == (1 if cand.size and cand[-1] >= tp.postings.meta.block_first[0] else 0)
        tp.postings.entries()
        with mock.patch.object(
            scoring, "decode_blocks", wraps=scoring.decode_blocks
        ) as blocks:
            m2, c2 = scoring._probe(tp, cand, K1, B, avgdl)
        assert blocks.call_count == 0
        np.testing.assert_array_equal(m1, m2)
        assert c1.dtype == c2.dtype
        np.testing.assert_array_equal(c1, c2)


def _kernel_run(monkeypatch, lists, dls, n_docs, mode):
    """A harness around one ``make_kernel`` call over ``lists``: ``run(texts)``
    scores one spec per text (in order) and returns the hits frame. It
    records, per call, the terms whose entries the batched pass decoded
    (``batched``), the full decodes of lazy lists (``lazy``, term and how
    many lazily decoded arrays were still alive then), the lists each
    block probe read (``probed``), and, as each spec starts scoring, the
    terms whose ``PostingList`` is still alive (``held``)."""
    import weakref

    import pandas as pd

    from fastcatsearch3_spark.plans import scoring
    from fastcatsearch3_spark.plans import search as search_mod
    from fastcatsearch3_spark.plans.query import parse_query

    term_of = {blob: t for t, (blob, _, _) in lists.items()}
    dfmap = {t: df for t, (_, _, df) in lists.items()}
    rec = {"batched": [], "lazy": [], "probed": [], "held": []}
    built: list = []  # weak refs to every PostingList of the call
    lazy_refs: list = []

    def alive(refs):
        return [r for r in refs if r() is not None]

    real_lists, real_full = scoring.decode_lists, scoring.decode_postings
    real_blocks, real_group = scoring.decode_blocks, search_mod.score_group

    def decode_lists(blobs, *a):
        out = real_lists(blobs, *a)
        rec["batched"].append(
            [term_of[bytes(b)] for b, (_, e) in zip(blobs, out) if e is not None]
        )
        return out

    def decode_postings(blob, meta):
        out = real_full(blob, meta)
        rec["lazy"].append((term_of[bytes(blob)], len(alive(lazy_refs))))
        lazy_refs.append(weakref.ref(out[0]))
        return out

    def decode_blocks(blob, meta, idx):
        rec["probed"].append(term_of[bytes(blob)])
        return real_blocks(blob, meta, idx)

    def group(blobs, pos_blobs):
        out = real_group_lists(blobs, pos_blobs)
        built.extend((term_of[pl.blob], weakref.ref(pl)) for pl in out)
        return out

    def score_group(*a, **kw):
        rec["held"].append(sorted(t for t, r in built if r() is not None))
        return real_group(*a, **kw)

    real_group_lists = scoring.PostingList.group
    monkeypatch.setattr(scoring, "decode_lists", decode_lists)
    monkeypatch.setattr(scoring, "decode_postings", decode_postings)
    monkeypatch.setattr(scoring, "decode_blocks", decode_blocks)
    monkeypatch.setattr(scoring.PostingList, "group", staticmethod(group))
    monkeypatch.setattr(search_mod, "score_group", score_group)

    def run(texts):
        for v in rec.values():
            v.clear()
        built.clear()
        lazy_refs.clear()
        specs = [
            search_mod.query_spec(f"q{i}", parse_query(t), dfmap, n_docs)
            for i, t in enumerate(texts)
        ]
        terms = sorted({t for s in specs for t in (*s.qidf, *s.nset)})
        pdf = pd.DataFrame({
            "segment_id": 0, "shard": 0, "term": terms,
            "postings": [lists[t][0] for t in terms],
        })
        kernel = search_mod.make_kernel(
            specs, k=5, mode=mode, k1=K1, b=B, avgdl=float(dls.mean()),
            term_avgdl={},
        )
        hits = kernel(pdf, None)
        assert set(hits["query_id"]) == {s.qid for s in specs}
        # nothing decoded outlives the call
        assert alive([r for _, r in built]) == [] and alive(lazy_refs) == []
        return hits

    return run, rec, dfmap


def test_kernel_frees_each_list_after_its_last_reader(monkeypatch):
    """A kernel call decodes its lists in one batched pass and keeps each
    list only while a spec still reads it: as each spec starts scoring,
    exactly the lists it or a later spec reads are held, each list is
    decoded once, and nothing decoded outlives the call. With the eager
    budget under every list, each list is decoded on first use instead,
    and a list read by one spec is freed before the next decode."""
    from fastcatsearch3_spark.functions import vbyte

    n_docs = 300
    lists, dls = _shared_corpus(7, n_docs, 8)
    run, rec, _ = _kernel_run(monkeypatch, lists, dls, n_docs, "taat")

    run(["t0", "t1", "t2"])
    assert rec["batched"] == [["t0", "t1", "t2"]] and rec["lazy"] == []
    assert rec["held"] == [["t0", "t1", "t2"], ["t1", "t2"], ["t2"]]
    # t0 is read again by the last spec: held until then, decoded once
    run(["t0", "t1", "t0"])
    assert rec["batched"] == [["t0", "t1"]] and rec["lazy"] == []
    assert rec["held"] == [["t0", "t1"], ["t0", "t1"], ["t0"]]

    monkeypatch.setattr(vbyte, "BATCH_ENTRIES", 0)
    run(["t0", "t1", "t2"])
    assert rec["batched"] == [[]]
    assert rec["lazy"] == [("t0", 0), ("t1", 0), ("t2", 0)]
    assert rec["held"] == [["t0", "t1", "t2"], ["t1", "t2"], ["t2"]]
    run(["t0", "t1", "t0"])
    assert rec["lazy"] == [("t0", 0), ("t1", 1)]


def test_lists_over_the_eager_budget_stay_lazy(monkeypatch):
    """A group over the eager budget: the smallest lists are decoded in
    the batched pass, the longer ones stay lazy. In ``bmw`` mode an AND
    only block-probes the longer lists (no full decode), every list is
    freed after its last reader, and the hits equal the all-eager call's
    bit for bit."""
    from fastcatsearch3_spark.functions import vbyte

    n_docs = 3000
    lists, dls = _shared_corpus(11, n_docs, 16)
    run, rec, dfmap = _kernel_run(monkeypatch, lists, dls, n_docs, "bmw")
    by_df = sorted(dfmap, key=dfmap.get)
    small, big = by_df[:2], by_df[2:]
    texts = [
        f"{small[0]} {big[0]}", f"{small[1]} {big[1]}",
        f"({small[0]} OR {big[1]}) {small[1]}",
        f"{small[0]} {small[1]} {big[0]}",
    ]
    readers = [[small[0], big[0]], [small[1], big[1]],
               [small[0], big[1], small[1]], [small[0], small[1], big[0]]]
    held = [sorted({t for r in readers[i:] for t in r}) for i in range(4)]

    eager = run(texts)
    assert rec["batched"] == [sorted(by_df)] and rec["probed"] == []
    assert rec["held"] == held

    monkeypatch.setattr(vbyte, "BATCH_ENTRIES", dfmap[small[0]] + dfmap[small[1]])
    lazy = run(texts)
    assert rec["batched"] == [sorted(small)]
    # the flat ANDs probe the longer lists' blocks; only the clause tree
    # decodes one in full
    assert set(rec["probed"]) == set(big)
    assert rec["lazy"] == [(big[1], 0)]
    assert rec["held"] == held
    pd_eq = lazy.reset_index(drop=True).equals(eager.reset_index(drop=True))
    assert pd_eq, (lazy, eager)
