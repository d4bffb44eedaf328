"""Dictionary-driven Korean morphological analysis (SURVEY.md §2.H F-1).

Reference capability being re-expressed: fastcatsearch3's primary
analysis mode is dictionary-based Korean analysis — the product-name /
Korean morpheme analyzer plugins under core:ir.analysis [K per SURVEY
§2.H], driven by user-editable dictionaries (word / compound /
user / stopword dictionaries managed through the server UI [M]). This
module re-expresses that as a seeded in-repo dictionary plus a
deterministic longest-match segmenter, exposed through the same F-1
analyzer registry (``korean_morph``) and the same Arrow-batched UDF
plumbing as every other analyzer, so the index build, query side and
the test oracle share one implementation.

Algorithm (greedy longest-match with compound decomposition and
particle stripping — the classic Korean product-search segmentation;
public knowledge, cf. Lucene's Nori dictionary segmenter and the
decompounding token filters):

  * The tokenizer isolates Hangul syllable runs; ASCII runs keep the
    standard chain's camel/snake splitting and other-CJK runs keep
    overlapping bigrams, so mixed Korean/Latin/CJK text analyzes each
    script with the right grammar.
  * Within a Hangul run, at each position the LONGEST dictionary word
    wins. A matched compound emits the whole word first, then its
    constituents (Lucene decompounder style: whole + parts all
    indexed, so both "삼성전자" and "전자" queries recall the doc).
  * Spans with no dictionary word extend until the next position where
    one starts and are emitted verbatim as a single unknown token
    (the reference's unknown-word passthrough) — EXCEPT a run-final
    span that is exactly a particle (josa) after at least one stem,
    which is dropped, and a run-final unknown that merely ENDS with a
    particle, which is emitted with the particle stripped. Particle
    stripping is what makes "노트북을"/"노트북이"/"노트북" all index
    to the same term.
  * Per-unique-eojeol memoization: real corpora repeat eojeols with
    Zipf skew, so the per-batch segmenter runs once per distinct run
    (an ``lru_cache``) while the scan itself stays in pandas' C regex
    paths.

Determinism: segmentation depends only on (run, dictionary contents) —
no frequency model, no randomness — so the DuckDB oracle can replicate
it by construction and index/query sides can never drift.

Dictionary versioning / reindex guard: the seed dictionary carries
``SEED_DICT_VERSION``; user extensions arrive via
``EngineConfig.user_dict`` entries (``"word"`` or
``"compound=part1+part2"`` — fastcatsearch's user-dictionary format
[M]). Both are serialized into every build manifest through the
config, so ``segment_complete`` refuses to resume a segment built
under a different dictionary — the analyzer-version reindex guard the
survey mandates.
"""

from __future__ import annotations

import hashlib
import re
from functools import lru_cache

import pandas as pd

# ---------------------------------------------------------------------------
# Seed dictionary (in-repo, versioned). Domain: Korean e-commerce / IT
# product search — the reference's home turf. ~180 nouns, 26 compounds
# (word -> constituent decomposition), ~40 particles.
# ---------------------------------------------------------------------------

SEED_DICT_VERSION = "seed-1"

SEED_NOUNS: tuple[str, ...] = (
    # search / IT
    "검색", "엔진", "검색엔진", "데이터", "베이스", "데이터베이스",
    "서버", "클라우드", "컴퓨터", "노트북", "스마트폰", "휴대폰",
    "전화", "전화기", "무선", "이어폰", "무선이어폰", "충전", "충전기",
    "배터리", "화면", "모니터", "키보드", "마우스", "메모리", "카드",
    "메모리카드", "저장", "장치", "저장장치", "인공", "지능", "인공지능",
    "기계", "학습", "기계학습", "언어", "모델", "언어모델", "자연어",
    "처리", "분석", "형태소", "형태소분석", "사전", "단어", "문서",
    "색인", "질의", "결과", "순위", "점수", "시스템", "네트워크",
    "인터넷", "웹", "사이트", "웹사이트", "프로그램", "소프트웨어",
    "하드웨어", "개발", "개발자", "기술", "정보", "보안", "암호",
    "파일", "폴더", "다운로드", "업데이트", "버전", "오류",
    # commerce
    "쇼핑", "몰", "쇼핑몰", "상품", "가격", "할인", "쿠폰", "배송",
    "무료", "무료배송", "주문", "결제", "고객", "리뷰", "평점",
    "브랜드", "의류", "신발", "운동화", "가방", "지갑", "시계",
    "가전", "제품", "가전제품", "판매", "구매", "중고", "중고차",
    "삼성", "전자", "삼성전자", "갤럭시",
    # appliances
    "냉장고", "세탁기", "청소기", "공기", "청정기", "공기청정기",
    "에어컨", "텔레비전", "전기", "전기차", "차", "자동차", "자전거",
    # daily / general
    "회사", "수리", "서비스", "센터", "서비스센터", "한국", "서울",
    "부산", "시장", "경제", "뉴스", "날씨", "여행", "호텔", "예약",
    "항공", "항공권", "기차", "버스", "지하철", "음식", "요리",
    "식당", "카페", "커피", "우유", "과일", "사과", "바나나",
    "책", "도서", "소설", "영화", "음악", "노래", "게임", "운동",
    "축구", "야구", "농구", "수영", "등산", "사용", "사용자",
    "방법", "설명", "설명서", "시간", "오늘", "내일", "어제",
    "사람", "학생", "학교", "대학", "대학교", "교수", "수업",
    "공부", "시험", "문제", "정답",
)

SEED_COMPOUNDS: dict[str, tuple[str, ...]] = {
    "검색엔진": ("검색", "엔진"),
    "데이터베이스": ("데이터", "베이스"),
    "무선이어폰": ("무선", "이어폰"),
    "메모리카드": ("메모리", "카드"),
    "저장장치": ("저장", "장치"),
    "인공지능": ("인공", "지능"),
    "기계학습": ("기계", "학습"),
    "언어모델": ("언어", "모델"),
    "형태소분석": ("형태소", "분석"),
    "웹사이트": ("웹", "사이트"),
    "쇼핑몰": ("쇼핑", "몰"),
    "무료배송": ("무료", "배송"),
    "가전제품": ("가전", "제품"),
    "삼성전자": ("삼성", "전자"),
    "공기청정기": ("공기", "청정기"),
    "서비스센터": ("서비스", "센터"),
    "전기차": ("전기", "차"),
    "중고차": ("중고", "차"),
}

# Post-nominal particles (josa) + the plural suffix; matched ONLY at the
# end of an eojeol, longest first.
SEED_JOSA: tuple[str, ...] = (
    "에게서", "으로서", "으로써", "입니다", "까지", "부터", "마다",
    "조차", "마저", "밖에", "처럼", "같이", "보다", "에게", "에서",
    "한테", "께서", "으로", "이랑", "하고", "이나", "이며", "이다",
    "로서", "로써", "은", "는", "이", "가", "을", "를", "의", "에",
    "께", "로", "와", "과", "랑", "도", "만", "나", "며", "들",
)

_HANGUL = "가-힣"
# non-Hangul CJK kept on the bigram grammar (analyzer.py F-3)
_CJK_OTHER = "一-鿿㐀-䶿぀-ゟ゠-ヿ"

_CAMEL1 = re.compile(r"(?<=[a-z0-9])(?=[A-Z])")
_CAMEL2 = re.compile(r"(?<=[A-Z])(?=[A-Z][a-z])")

# One ordered alternation: Hangul runs whole (group 1), other-CJK
# overlapping bigram lookahead (2), isolated other-CJK char (3), ascii
# run (4).
_TOKEN = re.compile(
    rf"([{_HANGUL}]+)"
    rf"|(?=([{_CJK_OTHER}][{_CJK_OTHER}]))"
    rf"|(?<![{_CJK_OTHER}])([{_CJK_OTHER}])(?![{_CJK_OTHER}])"
    rf"|([a-z0-9]+)"
)


class KoreanDictionary:
    """Immutable lookup structures for the segmenter.

    ``digest`` (a hash of the words, compounds and josa) keys the
    per-eojeol memo cache, so two dictionaries segment alike only when
    their contents match; ``version`` rides the config into the
    build-manifest reindex guard (see module docstring).
    """

    __slots__ = ("words", "compounds", "josa", "max_word_len",
                 "max_josa_len", "version", "digest")

    def __init__(
        self,
        nouns: tuple[str, ...] = SEED_NOUNS,
        compounds: dict[str, tuple[str, ...]] | None = None,
        josa: tuple[str, ...] = SEED_JOSA,
        user_dict: tuple[str, ...] = (),
        version: str = SEED_DICT_VERSION,
    ):
        compounds = dict(SEED_COMPOUNDS if compounds is None else compounds)
        words = set(nouns)
        for entry in user_dict:
            if "=" in entry:  # "compound=part1+part2"
                word, parts = entry.split("=", 1)
                word = word.strip()
                ptuple = tuple(p.strip() for p in parts.split("+") if p.strip())
                words.add(word)
                words.update(ptuple)
                compounds[word] = ptuple
            else:
                words.add(entry.strip())
        self.words = frozenset(words)
        self.compounds = compounds
        self.josa = frozenset(josa)
        self.max_word_len = max(map(len, words)) if words else 0
        self.max_josa_len = max(map(len, josa)) if josa else 0
        if user_dict:
            version = f"{version}+user:{','.join(sorted(user_dict))}"
        self.version = version
        self.digest = hashlib.sha256(
            repr((
                sorted(self.words),
                sorted(self.compounds.items()),
                sorted(self.josa),
            )).encode()
        ).hexdigest()


_DEFAULT_DICT = KoreanDictionary()

# user_dict tuple -> KoreanDictionary (configs are hashable tuples)
@lru_cache(maxsize=32)
def get_dictionary(user_dict: tuple[str, ...] = ()) -> KoreanDictionary:
    return _DEFAULT_DICT if not user_dict else KoreanDictionary(user_dict=user_dict)


def _word_starts_at(run: str, i: int, dic: KoreanDictionary) -> bool:
    top = min(dic.max_word_len, len(run) - i)
    for L in range(top, 0, -1):
        if run[i : i + L] in dic.words:
            return True
    return False


def _segment_uncached(run: str, dic: KoreanDictionary) -> tuple[str, ...]:
    out: list[str] = []
    i, n = 0, len(run)
    while i < n:
        # longest dictionary word at i
        matched = 0
        for L in range(min(dic.max_word_len, n - i), 0, -1):
            w = run[i : i + L]
            if w in dic.words:
                out.append(w)
                parts = dic.compounds.get(w)
                if parts:
                    out.extend(parts)
                matched = L
                break
        if matched:
            i += matched
            continue
        # unknown span: extend to the next dictionary-word start
        j = i + 1
        while j < n and not _word_starts_at(run, j, dic):
            j += 1
        unk = run[i:j]
        if j == n:
            if out and unk in dic.josa:
                break  # pure particle after a stem — dropped
            # run-final unknown carrying a trailing particle: strip it
            for L in range(min(dic.max_josa_len, len(unk) - 1), 0, -1):
                if unk[-L:] in dic.josa:
                    unk = unk[:-L]
                    break
        out.append(unk)
        i = j
    return tuple(out)


@lru_cache(maxsize=65536)
def _segment_cached(run: str, digest: str) -> tuple[str, ...]:
    # digest -> dictionary indirection keeps the memo key small; the
    # registry below only ever passes dictionaries it has seen
    return _segment_uncached(run, _DICTS_BY_DIGEST[digest])


_DICTS_BY_DIGEST: dict[str, KoreanDictionary] = {
    _DEFAULT_DICT.digest: _DEFAULT_DICT
}


def segment_eojeol(run: str, dic: KoreanDictionary | None = None) -> list[str]:
    """Segment one Hangul run into morpheme tokens (public test surface)."""
    dic = dic or _DEFAULT_DICT
    _DICTS_BY_DIGEST.setdefault(dic.digest, dic)
    return list(_segment_cached(run, dic.digest))


def korean_tokenize_series(
    s: pd.Series,
    *,
    dic: KoreanDictionary | None = None,
    stopwords: frozenset[str] = frozenset(),
    min_len: int = 1,
    max_len: int = 64,
) -> pd.Series:
    """Vectorized mixed-script analysis: pd.Series[str] → list[str].

    The scan (camel split, lowercase, token alternation) runs in pandas'
    C paths exactly like the standard chain; only Hangul runs detour
    through the memoized segmenter."""
    dic = dic or _DEFAULT_DICT
    _DICTS_BY_DIGEST.setdefault(dic.digest, dic)
    digest = dic.digest
    s = s.fillna("").astype(str)
    s = s.str.replace(_CAMEL1, " ", regex=True).str.replace(
        _CAMEL2, " ", regex=True
    )
    s = s.str.lower()
    matches = s.str.findall(_TOKEN)

    def _flatten(lst: list[tuple[str, str, str, str]]) -> list[str]:
        toks: list[str] = []
        for han, big, iso, asc in lst:
            if han:
                toks.extend(_segment_cached(han, digest))
            else:
                toks.append(big or iso or asc)
        if stopwords or min_len > 1 or max_len:
            toks = [
                t
                for t in toks
                if min_len <= len(t) <= max_len and t not in stopwords
            ]
        return toks

    return matches.map(_flatten)
