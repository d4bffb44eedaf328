"""Index-time synonym dictionary (F-6 applied at analysis time — the
reference's synonym dictionary also participates during indexing [M];
VERDICT r04 next-round #5): tokenize appends each occurring group
member's siblings to the token stream, changing df/postings, with the
manifest reindex guard tripping on any dictionary change. Query-side
expansion (plans/query.py) stays as the no-reindex fallback; this file
pins the two paths' MATCH-SET equivalence on the same dictionary, and
rank equivalence on a symmetric corpus."""

from __future__ import annotations

import pandas as pd
import pytest

from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.functions.analyzer import (
    get_analyzer,
    synonym_map,
    tokenize_series,
)
from fastcatsearch3_spark.index import IndexStore
from fastcatsearch3_spark.operators.build import (
    build_index,
    segment_complete,
)
from fastcatsearch3_spark.operators.ingest import normalize_corpus
from fastcatsearch3_spark.plans.query import parse_query
from fastcatsearch3_spark.plans.search import search_index

SYN_GROUPS = ("laptop,notebook",)
SYN_QUERY_SIDE = {"laptop": ["notebook"], "notebook": ["laptop"]}

ROWS = [
    (1, "fast laptop drive review"),
    (2, "notebook battery test"),
    (3, "desktop tower review"),
    (4, "laptop notebook bundle"),
    (5, "battery drive tower"),
]


def _mk_corpus(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in ROWS],
            "text": [r[1] for r in ROWS],
            "lang": "en",
            "source": "s1",
            "n_chars": [len(r[1]) for r in ROWS],
        }
    )
    return normalize_corpus(spark.createDataFrame(pdf))


def _build(spark, tmp_path, name, cfg):
    root = str(tmp_path / name)
    build_index(spark, _mk_corpus(spark), root, cfg)
    return IndexStore(root)


def test_synonym_map_parsing():
    assert synonym_map(("a,b", "b,c", "x")) == {
        "a": ("b",),
        "b": ("a", "c"),
        "c": ("b",),
    }


def test_analyzer_appends_members_after_stream():
    cfg = EngineConfig(index_synonyms=SYN_GROUPS)
    out = get_analyzer(cfg)(pd.Series(["fast laptop drive"]), cfg).iloc[0]
    # original stream untouched up front (phrase positions preserved),
    # group siblings appended after
    assert out == ["fast", "laptop", "drive", "notebook"]
    # plain analyzer unaffected
    assert tokenize_series(pd.Series(["fast laptop drive"])).iloc[0] == [
        "fast", "laptop", "drive",
    ]


def test_appended_members_pass_the_chain_post_filter():
    """A synonym member that is a configured stopword, or outside the
    token length bounds, is not appended: it could never be queried."""
    cfg = EngineConfig(
        index_synonyms=("laptop,the,notebook,pc",),
        stopwords=("the",),
        min_token_len=3,
    )
    out = get_analyzer(cfg)(pd.Series(["fast laptop"]), cfg).iloc[0]
    assert out == ["fast", "laptop", "notebook"]
    ws = EngineConfig(
        analyzer="whitespace", index_synonyms=("laptop,the,pc",),
        stopwords=("the",),
    )
    # the whitespace chain has no length bounds: only the stopword goes
    assert get_analyzer(ws)(pd.Series(["laptop"]), ws).iloc[0] == [
        "laptop", "pc",
    ]


def test_index_time_matches_all_group_members(spark, tmp_path):
    cfg = EngineConfig(num_shards=2, index_synonyms=SYN_GROUPS)
    store = _build(spark, tmp_path, "syn", cfg)
    for q in ("laptop", "notebook"):
        got = {
            r["doc_id"]
            for r in search_index(spark, store, q, k=10).collect()
        }
        assert got == {1, 2, 4}, q


def test_index_time_vs_query_time_equivalence(spark, tmp_path):
    """Same dictionary, both mechanisms: identical MATCH SETS always;
    identical ranking here (symmetric group, one member per doc outside
    the bundle doc). Scores differ numerically by design — index-time
    scores against the group df like Lucene's index-time SynonymFilter,
    query-time sums per-member partials — so this pins doc order."""
    idx_cfg = EngineConfig(num_shards=2, index_synonyms=SYN_GROUPS)
    plain_cfg = EngineConfig(num_shards=2)
    idx_store = _build(spark, tmp_path, "idx", idx_cfg)
    plain_store = _build(spark, tmp_path, "plain", plain_cfg)

    idx_hits = search_index(spark, idx_store, "laptop", k=10).collect()
    qry_hits = search_index(
        spark,
        plain_store,
        parse_query("laptop", plain_cfg, synonyms=SYN_QUERY_SIDE),
        k=10,
    ).collect()
    assert [r["doc_id"] for r in idx_hits] == [r["doc_id"] for r in qry_hits]
    assert {r["doc_id"] for r in idx_hits} == {1, 2, 4}


def test_phrase_adjacency_survives_appended_synonyms(spark, tmp_path):
    cfg = EngineConfig(
        num_shards=2, index_synonyms=SYN_GROUPS, store_positions=True
    )
    store = _build(spark, tmp_path, "pos", cfg)
    hits = {
        r["doc_id"]
        for r in search_index(spark, store, '"fast laptop"', k=10).collect()
    }
    assert hits == {1}
    # appended members never fabricate adjacency: no doc has the literal
    # bigram "drive notebook" even though notebook is appended after drive
    assert (
        search_index(spark, store, '"drive notebook"', k=10).count() == 0
    )


def test_synonym_change_trips_reindex_guard(spark, tmp_path):
    cfg = EngineConfig(num_shards=2, index_synonyms=SYN_GROUPS)
    root = str(tmp_path / "guard")
    build_index(spark, _mk_corpus(spark), root, cfg)
    assert segment_complete(root, 0, cfg)
    cfg2 = EngineConfig(
        num_shards=2, index_synonyms=("laptop,notebook,ultrabook",)
    )
    assert not segment_complete(root, 0, cfg2)


def test_df_reflects_group(spark, tmp_path):
    cfg = EngineConfig(num_shards=2, index_synonyms=SYN_GROUPS)
    store = _build(spark, tmp_path, "df", cfg)
    lex = {
        r["term"]: r["df"]
        for r in store.lexicon(spark)
        .where("term in ('laptop','notebook','desktop')")
        .collect()
    }
    # every doc containing any member carries both members
    assert lex["laptop"] == 3 and lex["notebook"] == 3
    assert lex["desktop"] == 1
