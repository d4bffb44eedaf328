"""Analysis chain (SURVEY.md §2.H F-1..F-5, U-1).

Reference capability being re-expressed: fastcatsearch3's pluggable
per-index analyzers (core:ir.analysis.AnalyzerPool / AnalyzerFactory [K]),
its standard delimiter analyzer (split non-alnum + lowercase, F-2), and a
CJK bigram analyzer (Lucene-CJK-style overlapping character bigrams, F-3).
F-4 (camelCase / snake_case / dotted code-identifier splitting) is our
code-payload extension, documented as an adaptation in SURVEY.md.

Design: ONE pure-pandas vectorized core (`tokenize_series`) shared by
  * the Spark `pandas_udf` (Arrow-batched, no per-row Python rows —
    BASELINE.json input_hint),
  * the frozen pure-pandas BM25 oracle in tests/oracle.py,
so index side, query side and oracle can never drift.

Token grammar (one regex pass, order-preserving):
  * ASCII runs ``[a-z0-9]+`` after camel-boundary spaces are injected and
    the text is lowercased  — so ``parseIndexBuffer`` → parse, index,
    buffer; ``merge_segment_file`` → merge, segment, file; ``a.b.C`` →
    a, b, c; digits stay attached (``sha256`` is one token).
  * CJK runs → overlapping character bigrams via a zero-width lookahead
    group (run of length n ≥ 2 → n-1 bigrams); isolated single CJK char →
    unigram.  Covers CJK Unified (+ext A), Hangul syllables, Hiragana,
    Katakana.
Post-filters (F-5): stopword drop, min/max token length.

Analyzer registry (F-1/U-1): named analyzers → tokenizer callables; each
gets a `pandas_udf("array<string>")` wrapper built on demand.
"""

from __future__ import annotations

import re
from functools import lru_cache

import numpy as np
import pandas as pd

from fastcatsearch3_spark.config import EngineConfig

# CJK Unified Ideographs, Extension A, Hangul syllables, Hiragana, Katakana.
_CJK = "一-鿿㐀-䶿가-힣぀-ゟ゠-ヿ"

# camelCase boundaries: aB → "a B"; ABc → "A Bc" (HTTPServer → HTTP Server).
_CAMEL1 = re.compile(r"(?<=[a-z0-9])(?=[A-Z])")
_CAMEL2 = re.compile(r"(?<=[A-Z])(?=[A-Z][a-z])")

# Single alternation, scanned left-to-right so token order is preserved:
#   group 1: zero-width lookahead capturing an overlapping CJK bigram
#   group 2: isolated CJK char (not part of a run of ≥2)
#   group 3: ascii word run
_TOKEN = re.compile(
    rf"(?=([{_CJK}][{_CJK}]))|(?<![{_CJK}])([{_CJK}])(?![{_CJK}])|([a-z0-9]+)"
)

# Words to recognise a compound identifier (for emit_original_compound).
_COMPOUND = re.compile(r"[A-Za-z0-9]*(?:[a-z0-9][A-Z]|[A-Za-z0-9]_[A-Za-z0-9])[A-Za-z0-9_]*")


def _flatten_matches(matches: list[tuple[str, str, str]]) -> list[str]:
    return [a or b or c for (a, b, c) in matches]


def tokenize_series(
    s: pd.Series,
    *,
    stopwords: frozenset[str] = frozenset(),
    min_len: int = 1,
    max_len: int = 64,
    emit_original: bool = False,
) -> pd.Series:
    """Vectorized analysis chain: pd.Series[str] → pd.Series[list[str]].

    All string work happens in pandas' C string paths (`str.replace`,
    `str.lower`, `str.findall`); the only Python-level loop is the final
    per-row flatten/filter over already-matched token lists.
    """
    s = s.fillna("").astype(str)
    originals: pd.Series | None = None
    if emit_original:
        originals = s.str.findall(_COMPOUND).map(
            lambda lst: [w.lower() for w in lst]
        )
    s = s.str.replace(_CAMEL1, " ", regex=True).str.replace(_CAMEL2, " ", regex=True)
    s = s.str.lower()
    toks = s.str.findall(_TOKEN).map(_flatten_matches)
    if emit_original and originals is not None:
        toks = pd.Series(
            [t + o for t, o in zip(toks, originals)], index=toks.index
        )
    if stopwords or min_len > 1 or max_len:
        def _filt(lst: list[str]) -> list[str]:
            return [
                t
                for t in lst
                if min_len <= len(t) <= max_len and t not in stopwords
            ]

        toks = toks.map(_filt)
    return toks


def tokenize_text(text: str, cfg: EngineConfig | None = None) -> list[str]:
    """Single-string convenience used on the query side (driver, Q-2).

    Dispatches through the F-1 registry so the query analyzes under the
    SAME chain the index was built with (cfg.analyzer travels in the
    index manifest) — a korean_morph index must see morph query terms,
    not standard-chain bigrams."""
    cfg = cfg or EngineConfig()
    return ANALYZERS[cfg.analyzer](pd.Series([text]), cfg).iloc[0]


# ---------------------------------------------------------------------------
# Analyzer registry (F-1 / U-1): name → pd.Series tokenizer
# ---------------------------------------------------------------------------

def _standard(s: pd.Series, cfg: EngineConfig) -> pd.Series:
    return tokenize_series(
        s,
        stopwords=frozenset(cfg.stopwords),
        min_len=cfg.min_token_len,
        max_len=cfg.max_token_len,
        emit_original=cfg.emit_original_compound,
    )


def _whitespace(s: pd.Series, cfg: EngineConfig) -> pd.Series:
    """Plain lowercase + whitespace split (the reference's simplest chain)."""
    out = s.fillna("").astype(str).str.lower().str.split()
    if cfg.stopwords:
        sw = frozenset(cfg.stopwords)
        out = out.map(lambda lst: [t for t in lst if t not in sw])
    return out


def _korean_morph(s: pd.Series, cfg: EngineConfig) -> pd.Series:
    """Dictionary-driven Korean morphological analysis (F-1, the
    reference's primary analyzer family) — see functions/korean.py."""
    from fastcatsearch3_spark.functions.korean import (
        get_dictionary,
        korean_tokenize_series,
    )

    return korean_tokenize_series(
        s,
        dic=get_dictionary(tuple(cfg.user_dict)),
        stopwords=frozenset(cfg.stopwords),
        min_len=cfg.min_token_len,
        max_len=cfg.max_token_len,
    )


ANALYZERS = {
    "standard": _standard,
    "whitespace": _whitespace,
    "korean_morph": _korean_morph,
}


def synonym_map(entries: tuple[str, ...]) -> dict[str, tuple[str, ...]]:
    """Parse index-synonym groups ("tok1,tok2[,...]", bidirectional) into
    member → other-members. Deterministic (members sorted)."""
    m: dict[str, set[str]] = {}
    for e in entries:
        group = [w.strip().lower() for w in e.split(",") if w.strip()]
        for w in group:
            m.setdefault(w, set()).update(x for x in group if x != w)
    return {w: tuple(sorted(v)) for w, v in m.items() if v}


def _post_filter(cfg: EngineConfig):
    """The registry analyzer's own post-filter (F-5) as a token
    predicate: stopwords, plus the min/max length bounds on every chain
    but ``whitespace`` (which applies none)."""
    sw = frozenset(cfg.stopwords)
    lo, hi = cfg.min_token_len, cfg.max_token_len
    if cfg.analyzer == "whitespace" or not (sw or lo > 1 or hi):
        return lambda t: t not in sw
    return lambda t: lo <= len(t) <= hi and t not in sw


def get_analyzer(cfg: EngineConfig):
    """INDEX-side analysis chain: the registry analyzer composed with the
    index-time synonym dictionary (F-6 at analysis time — the reference
    applies dictionaries during indexing as well [M]).

    Synonym members are emitted APPENDED to the document's own token
    stream, so original token positions (phrase adjacency, J-5) are
    unchanged; appended members join df/tf/dl like real tokens (each
    occurrence of a group member emits the other members once). The
    query side deliberately does NOT run this composition — a query term
    hits the group directly because the index already carries every
    member wherever any member occurred. Appended members pass the base
    chain's post-filter too: a stopword or out-of-range member could
    never be queried, so it is not indexed."""
    fn = ANALYZERS[cfg.analyzer]
    if not cfg.index_synonyms:
        return fn
    keep = _post_filter(cfg)
    m = {
        w: tuple(x for x in syns if keep(x))
        for w, syns in synonym_map(tuple(cfg.index_synonyms)).items()
    }

    def with_synonyms(s: pd.Series, c: EngineConfig) -> pd.Series:
        toks = fn(s, c)
        return toks.map(
            lambda lst: lst + [syn for t in lst for syn in m.get(t, ())]
        )

    return with_synonyms


@lru_cache(maxsize=16)
def _tokenize_udf_cached(cfg_key: tuple):
    from pyspark.sql.functions import pandas_udf

    cfg = EngineConfig.from_dict(dict(cfg_key))
    fn = get_analyzer(cfg)

    @pandas_udf("array<string>")
    def analyze(content: pd.Series) -> pd.Series:
        return fn(content, cfg)

    return analyze


def tokenize_udf(cfg: EngineConfig | None = None):
    """Arrow-batched analyzer UDF: string column → array<string> (I-2)."""
    cfg = cfg or EngineConfig()
    d = cfg.to_dict()
    d["stopwords"] = tuple(d["stopwords"])
    d["indexed_fields"] = tuple(d["indexed_fields"])
    d["user_dict"] = tuple(d["user_dict"])
    d["index_synonyms"] = tuple(d["index_synonyms"])
    return _tokenize_udf_cached(tuple(sorted(d.items())))


@lru_cache(maxsize=16)
def _tokens_string_udf_cached(cfg_key: tuple):
    from pyspark.sql.functions import pandas_udf

    cfg = EngineConfig.from_dict(dict(cfg_key))
    fn = get_analyzer(cfg)

    @pandas_udf("string")
    def analyze_joined(content: pd.Series) -> pd.Series:
        return fn(content, cfg).str.join(" ")

    return analyze_joined


def tokens_string_udf(cfg: EngineConfig | None = None):
    """Analyzer UDF returning the token stream as ONE space-joined string.

    This is the hot-path variant for the index build: transferring a single
    string per row through Arrow is ~an order of magnitude cheaper than
    materializing per-row Python dicts/lists into map/list arrays, and the
    JVM re-splits with codegen'd `split()` at negligible cost. Tokens can
    never contain spaces (the grammar admits only [a-z0-9]+ runs and CJK
    bigrams), so the join is lossless."""
    cfg = cfg or EngineConfig()
    d = cfg.to_dict()
    d["stopwords"] = tuple(d["stopwords"])
    d["indexed_fields"] = tuple(d["indexed_fields"])
    d["user_dict"] = tuple(d["user_dict"])
    d["index_synonyms"] = tuple(d["index_synonyms"])
    return _tokens_string_udf_cached(tuple(sorted(d.items())))
