"""Property-based fuzz of the query parser (Q-1/Q-2).

Two contracts, hypothesis-driven:

1. TOTALITY — for ANY query-flavored string, ``parse_query`` either
   returns a ``ParsedQuery`` or raises ``ValueError`` (the documented
   rejection for malformed/pure-negative input). It must never escape
   with IndexError/KeyError/RecursionError/AssertionError/re.error —
   a serving tier feeds user-typed strings straight into it.

2. GRAMMAR SOUNDNESS — structurally generated VALID queries always
   parse, and the parse respects the analyzer contract: every scored
   term is analyzer-normalized (tokenizing it again is a fixed point),
   phrases keep >= 2 tokens, boosts stay positive, and a tree is present
   exactly when the query is parenthesized.

Both run without Spark (parse/tokenize are driver-side pure Python), so
hundreds of examples cost milliseconds.
"""
from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.functions.analyzer import tokenize_text
from fastcatsearch3_spark.plans import query as query_mod
from fastcatsearch3_spark.plans.query import ParsedQuery, parse_query

CFG = EngineConfig()

# query-flavored raw material: words, operators, quotes, parens, carets,
# tildes, field colons, commas, CJK, identifiers — plus plain junk
_WORDS = st.sampled_from(
    [
        "spark", "join", "shuffle", "index", "BM25", "the",
        "camelCaseIdent", "snake_case_name", "HTTPServer2",
        "검색엔진", "色は匂へど", "mixed검색word",
        "AND", "OR", "NOT", "-", "~", "~2", "^", "^2.5", "^0",
        '"', "(", ")", ":", "title:", "body:spark", "a,b", ",",
        "()", '""', "(()", '"unclosed', "~x", "^x", "-NOT", "??",
    ]
)
_JUNK = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=8
)


@settings(max_examples=300, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.one_of(_WORDS, _JUNK), max_size=12).map(" ".join))
def test_parse_query_total(q):
    try:
        parsed = parse_query(q, CFG)
    except ValueError:
        return  # the one documented rejection
    assert isinstance(parsed, ParsedQuery)
    # analyzer fixed point: scored terms are already normalized
    for group in parsed.terms:
        for t in group:
            assert tokenize_text(t, CFG) in ([t], []), t
    for ph in parsed.phrases:
        assert len(ph) >= 2
    for b in parsed.boosts.values():
        assert b > 0


_SYNONYMS = {"spark": ["Flink", "stream processing"], "join": ["hashJoin"]}


@settings(max_examples=100, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.lists(st.one_of(_WORDS, _JUNK), max_size=8).map(" ".join),
        min_size=1, max_size=6,
    ),
    st.booleans(),
)
def test_batch_parse_equals_per_word_analysis(texts, with_synonyms):
    """A batch parse, its words analyzed in one analyzer call per pass,
    gives each text the parse that analyzing word by word gives, and
    raises the first failing text's error."""

    class PerWord:  # analyzes each word on its own, as it is asked
        def tokens(self, word):
            return tokenize_text(word, CFG)

    syn = _SYNONYMS if with_synonyms else None
    want, first_error = [], None
    for t in texts:
        try:
            want.append(query_mod._parse_query(t, CFG, PerWord(), syn))
        except ValueError as e:
            first_error = first_error or str(e)
    if first_error is not None:
        with pytest.raises(ValueError) as err:
            parse_query(texts, CFG, syn)
        assert str(err.value) == first_error
    else:
        assert parse_query(texts, CFG, syn) == want


# ---- structured valid-query generator ------------------------------------

_VOCAB = ["spark", "join", "shuffle", "lexicon", "segment", "merge"]
_term = st.sampled_from(_VOCAB)


def _boosted(t):
    return st.one_of(
        st.just(t),
        st.floats(0.1, 9.9).map(lambda b: f"{t}^{round(b, 2)}"),
    )


_clause = st.recursive(
    _term.flatmap(_boosted),
    lambda inner: st.one_of(
        # flat AND/OR of sub-clauses, parenthesized
        st.tuples(
            st.sampled_from([" AND ", " OR "]),
            st.lists(inner, min_size=2, max_size=3),
        ).map(lambda p: "(" + p[0].join(p[1]) + ")"),
    ),
    max_leaves=6,
)

_phrase = st.lists(_term, min_size=2, max_size=3).flatmap(
    lambda ws: st.one_of(
        st.just('"' + " ".join(ws) + '"'),
        st.integers(1, 4).map(lambda s: '"' + " ".join(ws) + f'"~{s}'),
    )
)

_valid_query = st.one_of(
    st.lists(_term, min_size=1, max_size=4).map(" ".join),
    st.lists(_term, min_size=2, max_size=4).map(" OR ".join),
    _clause,
    st.tuples(_phrase, st.lists(_term, max_size=2)).map(
        lambda p: " ".join([p[0]] + p[1])
    ),
    st.tuples(_clause, _phrase).map(" ".join),
)


@settings(max_examples=300, suppress_health_check=[HealthCheck.too_slow])
@given(_valid_query)
def test_valid_queries_parse(q):
    parsed = parse_query(q, CFG)
    assert parsed.terms, q  # a valid query always scores something
    assert parsed.op in ("AND", "OR")
    # a tree exists iff the query was parenthesized
    assert (parsed.tree is not None) == ("(" in q)
    for ph, slop in zip(parsed.phrases, parsed.phrase_slops):
        assert len(ph) >= 2 and slop >= 0
    for group in parsed.terms:
        assert group, q  # no empty synonym/term groups
        for t in group:
            assert tokenize_text(t, CFG) == [t]


def test_pure_negative_contract():
    # flat pure-negation parses to zero positive terms — downstream it
    # matches nothing, like Lucene's pure-negative BooleanQuery
    p = parse_query("-spark -join", CFG)
    assert p.terms == [] and p.not_terms == ["spark", "join"]
    # the clause tree rejects it eagerly: every OR branch needs a
    # positive clause
    with pytest.raises(ValueError):
        parse_query("(NOT spark)", CFG)
