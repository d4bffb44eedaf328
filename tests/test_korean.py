"""Dictionary-driven Korean morphological analyzer (F-1, the reference's
primary analysis mode): longest-match segmentation goldens, compound
decomposition, particle (josa) stripping, mixed Korean/Latin/CJK text,
user-dictionary extension + the manifest reindex guard, and an
end-to-end build/search pin against the CJK-bigram fallback — morph
matches everything the bigram path should match while rejecting the
classic cross-morpheme bigram false positive."""

from __future__ import annotations

import pandas as pd
import pytest

from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.functions.korean import (
    KoreanDictionary,
    korean_tokenize_series,
    segment_eojeol,
)
from fastcatsearch3_spark.index import IndexStore
from fastcatsearch3_spark.operators.build import (
    build_index,
    segment_complete,
)
from fastcatsearch3_spark.operators.ingest import normalize_corpus
from fastcatsearch3_spark.plans.search import search_index


# ---------------------------------------------------------------------------
# segmenter goldens
# ---------------------------------------------------------------------------

GOLDENS = [
    # compound + josa: whole word first, then constituents
    ("삼성전자가", ["삼성전자", "삼성", "전자"]),
    ("검색엔진은", ["검색엔진", "검색", "엔진"]),
    ("데이터베이스에서", ["데이터베이스", "데이터", "베이스"]),
    ("인공지능으로", ["인공지능", "인공", "지능"]),
    # simple word + josa stripped
    ("노트북을", ["노트북"]),
    ("냉장고와", ["냉장고"]),
    ("수영부터", ["수영"]),
    # bare words untouched
    ("무료배송", ["무료배송", "무료", "배송"]),
    ("커피", ["커피"]),
    # consecutive dictionary words, longest match at each position
    ("갤럭시노트북", ["갤럭시", "노트북"]),
    ("삼성전자갤럭시노트북을", ["삼성전자", "삼성", "전자", "갤럭시", "노트북"]),
    # unknown passthrough; unknown with trailing josa stripped
    ("하늘", ["하늘"]),
    ("김치찌개를", ["김치찌개"]),
    # longest-match beats the shorter prefix word (전기 vs 전기차)
    ("전기차", ["전기차", "전기", "차"]),
]


@pytest.mark.parametrize("run,expected", GOLDENS)
def test_segment_goldens(run, expected):
    assert segment_eojeol(run) == expected


def test_mixed_script_tokenization():
    s = pd.Series(
        ["삼성전자가 새 노트북을 출시 parseIndexBuffer 数据库 sha256"]
    )
    assert korean_tokenize_series(s).iloc[0] == [
        "삼성전자", "삼성", "전자",      # morph: compound + josa strip
        "새",                            # unknown single-char passthrough
        "노트북",                        # josa strip
        "출시",                          # unknown passthrough
        "parse", "index", "buffer",      # ascii keeps camel splitting
        "数据", "据库",                  # non-Hangul CJK keeps bigrams
        "sha256",
    ]


def test_determinism_and_memo():
    s = pd.Series(["노트북을 노트북이 노트북"] * 3)
    out = korean_tokenize_series(s)
    assert all(lst == ["노트북", "노트북", "노트북"] for lst in out)


def test_user_dictionary_compound():
    dic = KoreanDictionary(user_dict=("김치찌개=김치+찌개",))
    assert segment_eojeol("김치찌개를", dic) == ["김치찌개", "김치", "찌개"]
    # seed behavior unchanged under the default dictionary
    assert segment_eojeol("김치찌개를") == ["김치찌개"]


def test_memo_keyed_on_dictionary_contents():
    """Two dictionaries sharing a version but not their nouns segment
    differently: the memo is keyed on the dictionary's contents."""
    from fastcatsearch3_spark.functions.korean import SEED_NOUNS

    custom = KoreanDictionary(nouns=SEED_NOUNS + ("김치", "찌개"))
    assert custom.version == KoreanDictionary().version
    assert segment_eojeol("김치찌개를") == ["김치찌개"]
    assert segment_eojeol("김치찌개를", custom) == ["김치", "찌개"]
    s = pd.Series(["김치찌개를 주문"])
    assert korean_tokenize_series(s).iloc[0] == ["김치찌개", "주문"]
    assert korean_tokenize_series(s, dic=custom).iloc[0] == ["김치", "찌개", "주문"]


def test_batched_query_analysis_keyed_on_user_dict():
    """Query words are analyzed in one analyzer call per parse pass
    (``plans.query.analyze_words``) under the query's own config, so a
    user dictionary changes the batch's tokens as it changes
    ``tokenize_text``'s."""
    from fastcatsearch3_spark.functions.analyzer import tokenize_text
    from fastcatsearch3_spark.plans.query import analyze_words, parse_query

    plain = EngineConfig(analyzer="korean_morph")
    custom = EngineConfig(analyzer="korean_morph", user_dict=("김치찌개=김치+찌개",))
    words = ["김치찌개를", "주문", "김치찌개를"]
    for cfg in (plain, custom):
        assert analyze_words(words, cfg) == [tokenize_text(w, cfg) for w in words]
    assert analyze_words(["김치찌개를"], plain) == [["김치찌개"]]
    assert analyze_words(["김치찌개를"], custom) == [["김치찌개", "김치", "찌개"]]
    texts = ["김치찌개를", "김치찌개를 주문"]
    assert [p.terms for p in parse_query(texts, plain)] == [
        ["김치찌개"], ["김치찌개", "주문"],
    ]
    assert [p.terms for p in parse_query(texts, custom)] == [
        ["김치찌개", "김치", "찌개"], ["김치찌개", "김치", "찌개", "주문"],
    ]


def test_user_dictionary_simple_word():
    dic = KoreanDictionary(user_dict=("책상",))
    assert segment_eojeol("책상이", dic) == ["책상"]
    assert segment_eojeol("책상이") == ["책", "상"]  # seed: 책 + unknown


# ---------------------------------------------------------------------------
# end-to-end: build + search on a Korean mini-corpus
# ---------------------------------------------------------------------------

KO_ROWS = [
    (1, "삼성전자가 새 노트북을 출시했다"),
    (2, "노트북 가격 할인 정보"),
    (3, "인공지능으로 검색엔진은 순위를 계산한다"),
    (4, "검색 결과일부 목록"),   # ← bigram false positive for 과일
    (5, "신선한 과일을 무료배송"),
    (6, "the quick brown fox"),
]


def _mk_corpus(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in KO_ROWS],
            "text": [r[1] for r in KO_ROWS],
            "lang": "ko",
            "source": "ko1",
            "n_chars": [len(r[1]) for r in KO_ROWS],
        }
    )
    return normalize_corpus(spark.createDataFrame(pdf))


def _build(spark, tmp_path, name, cfg):
    root = str(tmp_path / name)
    build_index(spark, _mk_corpus(spark), root, cfg)
    return IndexStore(root)


def _hits(spark, store, q):
    return [
        r["doc_id"] for r in search_index(spark, store, q, k=10).collect()
    ]


def test_morph_vs_bigram_recall_and_precision(spark, tmp_path):
    morph_cfg = EngineConfig(num_shards=2, analyzer="korean_morph")
    bigram_cfg = EngineConfig(num_shards=2)  # standard → CJK bigram fallback
    morph = _build(spark, tmp_path, "morph", morph_cfg)
    bigram = _build(spark, tmp_path, "bigram", bigram_cfg)

    # recall parity where it matters: inflected forms all index to the stem
    assert set(_hits(spark, morph, "노트북")) == {1, 2}
    # compound decomposition recalls the constituent
    assert 1 in _hits(spark, morph, "전자")
    assert 3 in _hits(spark, morph, "검색엔진") and 3 in _hits(
        spark, morph, "엔진"
    )
    # the classic cross-morpheme false positive: '결과일부' contains the
    # character bigram 과일 but NOT the morpheme — morph rejects doc 4,
    # the bigram fallback cannot
    assert set(_hits(spark, morph, "과일")) == {5}
    bigram_hits = set(_hits(spark, bigram, "과일"))
    assert {4, 5} <= bigram_hits
    # ascii text behaves identically under both analyzers
    assert _hits(spark, morph, "quick fox") == _hits(spark, bigram, "quick fox")
    # and the true-match sets agree (morph ⊆ bigram recall, minus the FP)
    assert set(_hits(spark, bigram, "노트북")) >= {1, 2}


def test_user_dict_trips_reindex_guard(spark, tmp_path):
    cfg = EngineConfig(num_shards=2, analyzer="korean_morph")
    root = str(tmp_path / "idx")
    build_index(spark, _mk_corpus(spark), root, cfg)
    assert segment_complete(root, 0, cfg)
    # editing the user dictionary changes index bytes → resume must refuse
    cfg2 = EngineConfig(
        num_shards=2, analyzer="korean_morph", user_dict=("출시",)
    )
    assert not segment_complete(root, 0, cfg2)
    # rebuild under cfg2: the new dictionary word now matches bare + inflected
    root2 = str(tmp_path / "idx2")
    build_index(spark, _mk_corpus(spark), root2, cfg2)
    assert _hits(spark, IndexStore(root2), "출시") == [1]
