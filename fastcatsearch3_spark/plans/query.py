"""Query model + parser (SURVEY.md Q-1, Q-2).

The reference parses HTTP search params into a Query object tree
(core:ir.query.Query / Clause; server search action [K]). Our surface is a
small text grammar covering the same clause algebra:

    merge segment          → AND(merge, segment)           (AND is default)
    merge OR segment       → OR(merge, segment)
    merge -deprecated      → AND(merge) NOT(deprecated)
    parseIndexBuffer       → query-side analysis expands camelCase exactly
                             like the index side (same analyzer), so this
                             becomes AND(parse, index, buffer)
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd

from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.functions.analyzer import ANALYZERS


@dataclass(frozen=True)
class Node:
    """One clause-tree node (nested boolean, the reference's arbitrarily
    nested core:ir.query.Clause tree [K]). Kinds:

      term  — leaf; ``term`` is the analyzed (possibly field-qualified or
              prefix-placeholder) term key
      and   — all children must match; score = Σ child scores
      or    — ≥ ``msm`` children must match (default 1); score = Σ scores
              of the MATCHING children only (Lucene-style matched-subtree
              scoring: an OR branch whose AND isn't satisfied contributes
              nothing, even if some of its terms are present)
      not   — matches where the child does not; contributes no score
      false — matches nothing (e.g. a prefix that expanded to no terms)
    """

    kind: str
    term: str | None = None
    children: tuple["Node", ...] = ()
    msm: int | None = None

    def __post_init__(self):
        if self.kind not in ("term", "and", "or", "not", "false"):
            raise ValueError(f"bad node kind: {self.kind}")
        if self.kind == "term" and not self.term:
            raise ValueError("term node needs a term")
        if self.kind == "not" and len(self.children) != 1:
            raise ValueError("not node needs exactly one child")


def analyze_words(words: list[str], cfg: EngineConfig) -> list[list[str]]:
    """The analyzed tokens of each query word, from ONE call of the index
    side's analyzer over all of them. The analyzer runs over a pandas
    Series, so a call per word would pay that fixed cost per word."""
    if not words:
        return []
    return list(ANALYZERS[cfg.analyzer](pd.Series(words, dtype=object), cfg))


class _WordTable:
    """Query words analyzed in batches. A parse asks ``tokens(word)``; a
    word not analyzed yet is noted and stands in for its own tokens, and
    ``fill`` analyzes every noted word in one ``analyze_words`` call. A
    parse that noted no word read real tokens only."""

    def __init__(self, cfg: EngineConfig):
        self.cfg = cfg
        self.known: dict[str, list[str]] = {}
        self.noted: dict[str, None] = {}

    def tokens(self, word: str) -> list[str]:
        if word in self.known:
            return list(self.known[word])
        self.noted[word] = None
        return [word]

    def fill(self) -> bool:
        """Analyze the noted words; False when none was noted."""
        words = list(self.noted)
        self.noted.clear()
        self.known.update(zip(words, analyze_words(words, self.cfg)))
        return bool(words)


def _parse_each(items: list, cfg: EngineConfig, parse_one) -> list:
    """``parse_one(item, words)`` of every item, every query word they
    analyze analyzed together: parse them all, analyze the words that
    pass noted, and parse again until a pass notes none. That pass's
    results stand, or its first error is raised. Errors of a pass that
    noted words are dropped: they may come from stand-in tokens."""
    words = _WordTable(cfg)
    while True:
        out, errors = [], []
        for item in items:
            try:
                out.append(parse_one(item, words))
            except ValueError as e:
                errors.append(e)
        if not words.fill():
            if errors:
                raise errors[0]
            return out


def tree_terms(node: Node) -> tuple[list[str], list[str]]:
    """(positive-context terms, negative-context terms), document order,
    deduped. A term may appear in both lists (scored where positive)."""
    pos: list[str] = []
    neg: list[str] = []

    def walk(n: Node, negated: bool):
        if n.kind == "term":
            out = neg if negated else pos
            if n.term not in out:
                out.append(n.term)
        elif n.kind == "not":
            walk(n.children[0], not negated)
        else:
            for c in n.children:
                walk(c, negated)

    walk(node, False)
    return pos, [t for t in neg if t not in pos]


def assert_positive(node: Node) -> None:
    """Reject clause trees that could match documents containing no
    positive term (pure negation — Lucene's MatchNoDocs case): every OR
    child must itself be positive, and every AND needs ≥1 positive child.
    The scoring kernel's candidate domain is the union of positive-term
    postings, so a non-positive tree would be silently wrong, not slow."""

    def positive(n: Node) -> bool:
        # "positive" = cannot match a doc containing no positive term.
        # A false node matches nothing at all, so it is (vacuously) safe.
        if n.kind in ("term", "false"):
            return True
        if n.kind == "not":
            return False
        if n.kind == "and":
            return any(positive(c) for c in n.children)
        return bool(n.children) and all(positive(c) for c in n.children)

    if not positive(node):
        raise ValueError(
            "query must have a positive clause on every OR branch "
            "(pure-negation subtrees match nothing)"
        )


@dataclass
class ParsedQuery:
    terms: list[str]
    not_terms: list[str] = field(default_factory=list)
    op: str = "AND"  # AND | OR
    # synonym groups (F-6): groups[i] = tuple of EVERY group id terms[i]
    # belongs to (a term may be a member of several groups when it appears
    # both as a query word and as another word's synonym); None = no
    # expansion. Under AND, a group matches if ANY member term matches —
    # the flat form of the reference's query-side AND(OR(syn…)) expansion.
    groups: list[tuple[int, ...]] | None = None
    # minimum-should-match (reference clause-tree middle ground between OR
    # and AND): under OR, a doc must match ≥ msm distinct terms/groups.
    # Query syntax: a trailing `~N` token ("a b c ~2").
    msm: int | None = None
    # phrase constraints (J-5): each entry is a list of CONSECUTIVE terms
    # that must appear at adjacent positions ("\"exact phrase\"" syntax).
    # Phrase terms are also regular AND terms; the adjacency check is an
    # additional positional filter in the kernel.
    phrases: list[list[str]] = field(default_factory=list)
    # per-phrase proximity slop ('"a b"~2' syntax), aligned with phrases.
    # Semantics: the phrase matches at some start s iff term j occurs at a
    # position in [s+j, s+j+slop] for every j — an ordered window that
    # degrades gracefully to the exact phrase at slop=0 (for two terms
    # this is exactly "position difference in [1-slop, 1+slop]").
    phrase_slops: list[int] = field(default_factory=list)
    # nested boolean clause tree (parenthesized queries). When set, the
    # gate/score come from matched-subtree evaluation of the tree and
    # op/groups/msm are ignored; ``terms``/``not_terms`` hold the tree's
    # positive/negative-context leaves (the posting fetch list).
    tree: Node | None = None
    # per-term score boosts ("word^2.5" syntax, J-6 at clause granularity):
    # multiplies the term's idf weight in the scoring kernel (the
    # reference's per-clause boost / Lucene's caret boost). A word's boost
    # covers every token it analyzes to and its synonym expansions; a term
    # reached via several boosted words keeps the MAX boost.
    boosts: dict[str, float] = field(default_factory=dict)
    # terms that occur ONLY inside phrase spans (no independent free-word
    # occurrence in the query). Under AND this is informational (phrase
    # terms are required either way); under OR these terms are
    # presence-gated on their phrase matching — they contribute score (and
    # a clause match) only in docs where the phrase occurs, i.e.
    # '"a b" OR c' treats the phrase as one optional SHOULD clause (Lucene
    # BooleanQuery + PhraseQuery semantics). parse_query fills this; a
    # directly constructed ParsedQuery may leave it empty, which treats
    # every phrase member as also being a free term.
    phrase_only_terms: list[str] = field(default_factory=list)

    def __post_init__(self):
        if self.op not in ("AND", "OR"):
            raise ValueError(f"unsupported op: {self.op}")
        if self.phrases and not self.phrase_slops:
            self.phrase_slops = [0] * len(self.phrases)
        if len(self.phrase_slops) != len(self.phrases):
            raise ValueError("phrase_slops must align with phrases")
        if self.msm is not None and self.msm < 1:
            raise ValueError("msm must be >= 1")
        if self.groups is not None:
            if len(self.groups) != len(self.terms):
                raise ValueError("groups must align with terms")
            # normalize: ints → 1-tuples, lists → tuples
            self.groups = [
                (g,) if isinstance(g, int) else tuple(g) for g in self.groups
            ]

    @property
    def n_groups(self) -> int:
        if self.groups is None:
            return len(self.terms)
        return len({gid for gs in self.groups for gid in gs})


def parse_multifield(
    text: str,
    field_weights: dict[str, float],
    cfg: EngineConfig | None = None,
    synonyms: dict[str, list[str]] | None = None,
) -> ParsedQuery:
    """Multi-index weighted query (the reference's several search indexes
    per collection queried together — core:ir.settings.IndexSetting [K];
    Lucene MultiFieldQueryParser / edismax ``qf`` in its weighted-sum
    form): every query word must match in AT LEAST ONE of the weighted
    fields (AND across words, OR across fields within a word), and each
    matching field contributes ``weight × BM25_field`` to the score.

    Mechanically this is the flat grammar's synonym-group expansion with
    field-qualified term keys: token *i* of a word forms one group whose
    members are that token's key in every queried field; the field weight
    rides the existing caret-boost channel (multiplies idf), and each
    field-qualified term already normalizes against its own field's avgdl
    in the kernel. Flat words only (no parens/phrases); ``-word`` negates
    across all fields."""
    cfg = cfg or EngineConfig()
    for fld in field_weights:
        if fld not in cfg.indexed_fields:
            raise ValueError(
                f"unknown search field {fld!r} (indexed: {cfg.indexed_fields})"
            )
    if not field_weights:
        raise ValueError("field_weights must name at least one field")
    return _parse_each(
        [text], cfg,
        lambda t, words: _parse_multifield(t, field_weights, words, synonyms),
    )[0]


def _parse_multifield(
    text: str,
    field_weights: dict[str, float],
    words: _WordTable,
    synonyms: dict[str, list[str]] | None,
) -> ParsedQuery:
    terms: list[str] = []
    groups: list[int] = []
    boosts: dict[str, float] = {}
    nterms: list[str] = []
    gid = 0
    for w in text.split():
        neg = w.startswith("-") and len(w) > 1
        if neg:
            w = w[1:]
        toks = words.tokens(w)
        if not toks:
            raise ValueError(f"query word {w!r} analyzed to nothing")
        for t in toks:
            expanded = [t]
            if synonyms and t in synonyms:
                for s in synonyms[t]:
                    expanded.extend(words.tokens(s))
            for fld, wgt in field_weights.items():
                pref = "" if fld == "content" else f"{fld}:"
                for et in expanded:
                    key = pref + et
                    if neg:
                        nterms.append(key)
                        continue
                    terms.append(key)
                    groups.append(gid)
                    boosts[key] = max(float(wgt), boosts.get(key, 0.0))
            gid += 1
    if not terms:
        raise ValueError("multifield query needs at least one positive word")
    # order-preserving dedup with merged group credit (same rule as
    # parse_query: a key reached twice must satisfy every group it's in)
    seen: dict[str, int] = {}
    dt: list[str] = []
    dg: list[tuple[int, ...]] = []
    for t, g in zip(terms, groups):
        if t in seen:
            if g not in dg[seen[t]]:
                dg[seen[t]] = dg[seen[t]] + (g,)
        else:
            seen[t] = len(dt)
            dt.append(t)
            dg.append((g,))
    nseen: set[str] = set()
    nterms = [t for t in nterms if not (t in nseen or nseen.add(t))]
    return ParsedQuery(
        terms=dt, not_terms=nterms, op="AND", groups=dg, boosts=boosts
    )


def _fuzzy_suffix(w: str) -> tuple[str, int] | None:
    """``word~`` / ``word~1`` / ``word~2`` → (stem, distance); None when
    the word carries no fuzzy marker. Bare ``~`` defaults to distance 2
    (Lucene's fuzzy default); an out-of-range distance (``word~3``)
    raises rather than silently parsing '~3' as literal tokens. A
    standalone ``~N`` token (min-should-match) has no stem and is never
    treated as fuzzy; quoted-phrase slop (``"..."~N``) never reaches
    here — phrases are extracted before word parsing."""
    import re

    m = re.search(r"~(\d+)?$", w)
    if m is None or m.start() == 0:
        return None
    d = int(m.group(1) or 2)
    if d not in (1, 2):
        raise ValueError(
            f"fuzzy distance in {w!r} must be 1 or 2 (got {d})"
        )
    return w[: m.start()], d


def _regex_placeholder(w: str, cfg: "EngineConfig") -> str | None:
    """``/pat/`` / ``field:/pat/`` → regex placeholder term key
    (``pref + "/pat/"``); None when the word carries no regex marker.
    Lucene RegexpQuery semantics: the pattern is matched FULLY against
    analyzed lexicon terms (which are lowercase), is itself never run
    through the analyzer, and an uncompilable pattern raises. Supported
    dialect = the Python-re (validated here) ∩ Java-regex (executed by
    the lexicon scan) common subset; Python-only constructs are turned
    into the same ValueError at expansion time. The TEXT grammar cannot
    carry whitespace or parentheses inside a pattern (parens switch the
    parser to tree tokenization) — build a ParsedQuery directly for
    those."""
    import re

    m = re.fullmatch(r"(?:([^:/]+):)?/(.+)/", w)
    if m is None:
        return None
    fld, pat = m.group(1), m.group(2)
    try:
        re.compile(pat)
    except re.error as e:
        raise ValueError(f"bad regex term {w!r}: {e}") from None
    pref = ""
    if fld is not None:
        if fld not in cfg.indexed_fields:
            raise ValueError(
                f"unknown search field {fld!r} (indexed: {cfg.indexed_fields})"
            )
        pref = "" if fld == "content" else f"{fld}:"
    return f"{pref}/{pat}/"


def _wildcard_placeholder(w: str, cfg: "EngineConfig") -> str | None:
    """``d?ta*`` / ``field:d*ta`` → wildcard placeholder term key (the
    lowercased pattern, field-qualified); None when the word is not a
    general wildcard. A single TRAILING ``*`` stays on the prefix fast
    path (arrow range scan) and returns None here. Lucene WildcardQuery
    semantics: the pattern matches whole analyzed lexicon terms and is
    never analyzer-split — only lowercased to meet the analyzer's
    normalization. A pattern with no literal character (``*``, ``?*``)
    would match the entire lexicon and raises instead."""
    if "*" not in w and "?" not in w:
        return None
    body = w
    pref = ""
    if ":" in w:
        fld, rest = w.split(":", 1)
        if fld and rest and "*" not in fld and "?" not in fld:
            if fld not in cfg.indexed_fields:
                raise ValueError(
                    f"unknown search field {fld!r} (indexed: "
                    f"{cfg.indexed_fields})"
                )
            pref = "" if fld == "content" else f"{fld}:"
            body = rest
        elif "*" in fld or "?" in fld:
            raise ValueError(f"wildcard term {w!r} cannot span fields")
    if "?" not in body and body.count("*") == 1 and body.endswith("*"):
        return None  # plain prefix — existing fast path
    if ":" in body:
        raise ValueError(f"wildcard term {w!r} cannot span fields")
    literal = body.replace("*", "").replace("?", "")
    if not literal:
        raise ValueError(
            f"wildcard term {w!r} has no literal character (would match "
            "the whole lexicon)"
        )
    if _fuzzy_suffix(body) is not None:
        raise ValueError(
            f"cannot combine wildcard and fuzzy markers in {w!r}"
        )
    return pref + body.lower()


def placeholder_kind(term: str) -> str | None:
    """Classify an analyzed term key as a multi-term placeholder the
    lexicon must expand: 'regex' (``/pat/``), 'fuzzy' (``stem~d``),
    'wildcard' (``d?ta``, ``d*ta``, ``da*ta*``), 'prefix' (``da*``) —
    or None for a plain term. Single detection point shared by the
    parser, the single-query path, and the batch kernel. The regex test
    uses the SAME ``(field:)?/pat/`` grammar the parser and expander use
    — patterns containing ':', '?', or '*' (e.g. non-capturing groups)
    must classify as regex, never leak into the wildcard/field paths."""
    import re

    if re.fullmatch(r"(?:([^:/]+):)?/(.+)/", term):
        return "regex"
    if _fuzzy_suffix(term) is not None:
        return "fuzzy"
    if "?" in term or ("*" in term and not term.endswith("*")):
        return "wildcard"
    if term.endswith("*") and len(term) > 1:
        return "wildcard" if term.count("*") > 1 else "prefix"
    return None


def _split_boost(w: str) -> tuple[str, float | None]:
    """Strip a trailing caret boost: "spark^2.5" → ("spark", 2.5)."""
    import re as _re

    m = _re.fullmatch(r"(.+)\^(\d+(?:\.\d+)?)", w)
    if m:
        return m.group(1), float(m.group(2))
    return w, None


def _analyze_word(
    w: str, cfg: EngineConfig, words: _WordTable
) -> tuple[str, list[str]]:
    """→ (term key prefix, analyzed tokens). "repo:spark" qualifies the
    token to the repo field — term key "repo:spark" (multi-index
    collections); the default content field stays bare."""
    if ":" in w:
        fld, rest = w.split(":", 1)
        if fld and rest:
            if fld not in cfg.indexed_fields:
                raise ValueError(
                    f"unknown search field {fld!r} (indexed: "
                    f"{cfg.indexed_fields})"
                )
            pref = "" if fld == "content" else f"{fld}:"
            return pref, words.tokens(rest)
    return "", words.tokens(w)


def _word_node(
    w: str,
    cfg: EngineConfig,
    words: _WordTable,
    synonyms: dict[str, list[str]] | None,
    boosts_out: dict[str, float] | None = None,
) -> Node:
    """One query word → a clause-tree fragment: camelCase analysis fans out
    to AND of its tokens; a synonym entry fans a token out to OR(token,
    syn…) — the tree form of the flat path's group expansion. Unlike the
    flat path, duplicate leaves each score (Lucene BooleanQuery semantics;
    the flat path's set-semantics dedup exists to match its simpler
    oracle). A caret boost on the word lands in ``boosts_out`` for every
    term the word produces (max-merged)."""
    w, boost = _split_boost(w)

    def note(term: str) -> str:
        if boost is not None and boosts_out is not None:
            boosts_out[term] = max(boost, boosts_out.get(term, 0.0))
        return term

    rx = _regex_placeholder(w, cfg)
    if rx is not None:
        return Node("term", term=note(rx))
    wc = _wildcard_placeholder(w, cfg)
    if wc is not None:
        return Node("term", term=note(wc))
    if w.endswith("*") and len(w) > 1:
        pref, toks = _analyze_word(w[:-1], cfg, words)
        if len(toks) != 1:
            raise ValueError(
                f"prefix term {w!r} must analyze to one token, got {toks}"
            )
        return Node("term", term=note(pref + toks[0] + "*"))
    fz = _fuzzy_suffix(w)
    if fz is not None:
        stem, d = fz
        pref, toks = _analyze_word(stem, cfg, words)
        if len(toks) != 1:
            raise ValueError(
                f"fuzzy term {w!r} must analyze to one token, got {toks}"
            )
        return Node("term", term=note(f"{pref}{toks[0]}~{d}"))
    pref, toks = _analyze_word(w, cfg, words)
    if not toks:
        raise ValueError(f"query word {w!r} analyzed to nothing")
    leaves: list[Node] = []
    for t in toks:
        leaf = Node("term", term=note(pref + t))
        if synonyms and not pref and t in synonyms:
            syn_leaves = tuple(
                Node("term", term=note(st))
                for s in synonyms[t]
                for st in words.tokens(s)
            )
            if syn_leaves:
                leaf = Node("or", children=(leaf,) + syn_leaves)
        leaves.append(leaf)
    return leaves[0] if len(leaves) == 1 else Node("and", children=tuple(leaves))


def _parse_tree(
    text: str,
    cfg: EngineConfig,
    words: _WordTable,
    synonyms: dict[str, list[str]] | None,
    boosts_out: dict[str, float] | None = None,
) -> Node:
    """Recursive-descent parse of the parenthesized grammar:

        expr   := and ( OR and )* [~N]
        and    := unary+                (AND token optional/ignored)
        unary  := (NOT | '-') unary | atom
        atom   := '(' expr ')' | word

    A trailing ``~N`` at some scope turns that scope's clause list into
    OR-with-minimum-should-match over its immediate children."""
    import re as _re

    toks = text.replace("(", " ( ").replace(")", " ) ").split()
    pos = 0

    def peek() -> str | None:
        return toks[pos] if pos < len(toks) else None

    def parse_expr() -> Node:
        nonlocal pos
        branches = [parse_and()]
        msm: int | None = None
        while True:
            t = peek()
            if t is None or t == ")":
                break
            if t.upper() == "OR":
                pos += 1
                branches.append(parse_and())
                continue
            m = _re.fullmatch(r"~(\d+)", t)
            if m:
                msm = int(m.group(1))
                pos += 1
                continue
            break
        if msm is not None and len(branches) == 1 and branches[0].kind == "and":
            # "a b c ~2" — msm ranges over the flat word list
            branches = list(branches[0].children)
        if len(branches) == 1 and msm is None:
            return branches[0]
        return Node("or", children=tuple(branches), msm=msm)

    def parse_and() -> Node:
        nonlocal pos
        kids: list[Node] = []
        while True:
            t = peek()
            if (
                t is None
                or t in (")",)
                or t.upper() == "OR"
                or _re.fullmatch(r"~\d+", t)
            ):
                break
            if t.upper() == "AND":
                pos += 1
                continue
            kids.append(parse_unary())
        if not kids:
            raise ValueError(f"empty clause in query {text!r}")
        return kids[0] if len(kids) == 1 else Node("and", children=tuple(kids))

    def parse_unary() -> Node:
        nonlocal pos
        t = peek()
        if t is None:
            raise ValueError(f"dangling operator in query {text!r}")
        if t.upper() == "NOT":
            pos += 1
            return Node("not", children=(parse_unary(),))
        if t.startswith("-") and len(t) > 1 and t != "(" :
            toks[pos] = t[1:]
            return Node("not", children=(parse_unary(),))
        return parse_atom()

    def parse_atom() -> Node:
        nonlocal pos
        t = peek()
        if t == "(":
            pos += 1
            n = parse_expr()
            if peek() != ")":
                raise ValueError(f"unbalanced parens in query {text!r}")
            pos += 1
            return n
        if t is None or t == ")":
            raise ValueError(f"unexpected token in query {text!r}")
        pos += 1
        return _word_node(t, cfg, words, synonyms, boosts_out)

    root = parse_expr()
    if peek() is not None:
        raise ValueError(f"unbalanced parens in query {text!r}")
    return root


def parse_query(
    text: str | list[str],
    cfg: EngineConfig | None = None,
    synonyms: dict[str, list[str]] | None = None,
) -> ParsedQuery | list[ParsedQuery]:
    """Parse + analyze a query string (Q-1 then Q-2: the query side runs
    the SAME analyzer as the index side — core:ir.analysis reuse [K]).
    ``synonyms`` maps an analyzed term to expansion words (each re-analyzed),
    mirroring the reference's query-side synonym dictionary
    (core:ir.analysis synonym term option [M]).

    Given a list of query strings (a batch), returns their parses in
    order, the batch's words analyzed in one analyzer call per parse
    pass that meets new words (``_parse_each``), not one call per word;
    raises the first failing text's error, as parsing them in order
    would."""
    cfg = cfg or EngineConfig()
    out = _parse_each(
        [text] if isinstance(text, str) else list(text), cfg,
        lambda t, words: _parse_query(t, cfg, words, synonyms),
    )
    return out[0] if isinstance(text, str) else out


def _parse_query(
    text: str,
    cfg: EngineConfig,
    words: _WordTable,
    synonyms: dict[str, list[str]] | None,
) -> ParsedQuery:
    import re as _re

    # phrase spans first: "exact phrase" → adjacency constraint (J-5);
    # '"a b"~2' → proximity with slop 2. The span's words also join the
    # regular term list (each its own group)
    phrases: list[list[str]] = []
    phrase_slops: list[int] = []
    phrase_words: list[str] = []
    for span, _tilde, slop in _re.findall(r'"([^"]*)"(~(\d+))?', text):
        ptoks: list[str] = []
        for w in span.split():
            ptoks.extend(words.tokens(w))
        if len(ptoks) >= 2:
            phrases.append(ptoks)
            phrase_slops.append(int(slop) if slop else 0)
        phrase_words.extend(span.split())
    text = _re.sub(r'"[^"]*"(~\d+)?', " ", text)

    if "(" in text or ")" in text:
        # nested boolean (parenthesized) query → clause tree (the
        # reference's arbitrarily nested Clause tree; the flat grammar
        # below stays byte-identical for unparenthesized queries)
        boosts: dict[str, float] = {}
        root = _parse_tree(text, cfg, words, synonyms, boosts)
        if phrase_words:
            # phrase words are required scored terms on top of the
            # positional constraint, exactly like the flat path
            ph_leaves = tuple(
                Node("term", term=t) for ph in phrases for t in ph
            )
            root = Node("and", children=(root,) + ph_leaves)
        assert_positive(root)
        pos_terms, neg_terms = tree_terms(root)
        return ParsedQuery(
            terms=pos_terms,
            not_terms=neg_terms,
            op="AND",
            tree=root,
            phrases=phrases,
            phrase_slops=phrase_slops,
            boosts=boosts,
        )

    raw = text.split()
    op = "AND"
    msm: int | None = None
    pos_words: list[str] = []
    neg_words: list[str] = []
    for w in raw:
        m = _re.fullmatch(r"~(\d+)", w)
        if m:
            msm = int(m.group(1))  # minimum-should-match: "a b c ~2"
            op = "OR"  # msm only means anything over should-clauses
        elif w.upper() == "OR":
            op = "OR"
        elif w.upper() == "AND":
            op = "AND"
        elif w.startswith("-") and len(w) > 1:
            neg_words.append(w[1:])
        elif w.upper() == "NOT":
            neg_words.append("\0PENDING")
        else:
            if neg_words and neg_words[-1] == "\0PENDING":
                neg_words[-1] = w
            else:
                pos_words.append(w)
    neg_words = [w for w in neg_words if w != "\0PENDING"]
    pos_words = phrase_words + pos_words

    def analyze_word(w: str) -> tuple[str, list[str]]:
        return _analyze_word(w, cfg, words)

    terms: list[str] = []
    groups: list[int] = []
    boosts: dict[str, float] = {}
    gid = 0
    has_prefix = False
    # terms produced by a word OUTSIDE any phrase span (synonym expansions
    # included) — everything else in a phrase is phrase-only (see
    # ParsedQuery.phrase_only_terms)
    free_src: set[str] = set()
    n_phrase_words = len(phrase_words)
    for wi, w in enumerate(pos_words):
        terms_before = len(terms)
        w, boost = _split_boost(w)

        def note(term: str) -> str:
            if boost is not None:
                boosts[term] = max(boost, boosts.get(term, 0.0))
            return term

        rx = _regex_placeholder(w, cfg)
        wc = None if rx is not None else _wildcard_placeholder(w, cfg)
        if rx is not None or wc is not None:
            # regex ("/pat/") or general wildcard ("d?ta*") term →
            # placeholder kept in the term list; search_index expands it
            # against the lexicon into a synonym-style group exactly like
            # a prefix placeholder (Lucene MultiTermQuery family).
            terms.append(note(rx if rx is not None else wc))
            groups.append(gid)
            gid += 1
            has_prefix = True
            if wi >= n_phrase_words:
                free_src.update(terms[terms_before:])
            continue
        if w.endswith("*") and len(w) > 1:
            # prefix (wildcard) term: "spar*" → placeholder "spar*" kept in
            # the term list; search_index expands it against the lexicon
            # into a synonym-style group (any expansion matches the group).
            # The stem runs the analyzer so query side == index side.
            pref, toks = analyze_word(w[:-1])
            if len(toks) != 1:
                raise ValueError(
                    f"prefix term {w!r} must analyze to one token, got {toks}"
                )
            terms.append(note(pref + toks[0] + "*"))
            groups.append(gid)
            gid += 1
            has_prefix = True
            if wi >= n_phrase_words:
                free_src.update(terms[terms_before:])
            continue
        fz = _fuzzy_suffix(w)
        if fz is not None:
            # fuzzy term: "sparc~1" (Lucene ~ syntax; bare "~" = distance
            # 2) → placeholder "sparc~1" kept in the term list;
            # search_index expands it against the lexicon into a
            # synonym-style group of terms within Levenshtein distance,
            # exactly like a prefix placeholder. Unambiguous vs phrase
            # slop ('"..."~N'), which is quoted and parsed earlier.
            stem, d = fz
            pref, toks = analyze_word(stem)
            if len(toks) != 1:
                raise ValueError(
                    f"fuzzy term {w!r} must analyze to one token, got {toks}"
                )
            terms.append(note(f"{pref}{toks[0]}~{d}"))
            groups.append(gid)
            gid += 1
            has_prefix = True
            if wi >= n_phrase_words:
                free_src.update(terms[terms_before:])
            continue
        pref, toks = analyze_word(w)
        for t in toks:
            terms.append(note(pref + t))
            groups.append(gid)
            if synonyms and not pref and t in synonyms:
                for s in synonyms[t]:
                    for st in words.tokens(s):
                        terms.append(note(st))
                        groups.append(gid)
            gid += 1
        if wi >= n_phrase_words:
            free_src.update(terms[terms_before:])
    nterms: list[str] = []
    for w in neg_words:
        w, _ = _split_boost(w)  # a boost on a NOT clause is meaningless
        if _regex_placeholder(w, cfg) is not None:
            raise ValueError("regex terms are not supported in NOT clauses")
        if _wildcard_placeholder(w, cfg) is not None:
            raise ValueError(
                "wildcard terms are not supported in NOT clauses"
            )
        if w.endswith("*") and len(w) > 1:
            raise ValueError("prefix terms are not supported in NOT clauses")
        if _fuzzy_suffix(w) is not None:
            raise ValueError("fuzzy terms are not supported in NOT clauses")
        pref, toks = analyze_word(w)
        nterms.extend(pref + t for t in toks)
    # de-dup, order-preserving (duplicate query terms score once, matching
    # set-semantics BM25 — and the DuckDB oracle's DISTINCT term list).
    # A term kept once must still credit EVERY group it belongs to (it may
    # be both a query word and another word's synonym), so group ids are
    # MERGED per term rather than first-wins.
    seen: dict[str, int] = {}
    dedup_terms: list[str] = []
    dedup_groups: list[tuple[int, ...]] = []
    for t, g in zip(terms, groups):
        if t in seen:
            prev = dedup_groups[seen[t]]
            if g not in prev:
                dedup_groups[seen[t]] = prev + (g,)
        else:
            seen[t] = len(dedup_terms)
            dedup_terms.append(t)
            dedup_groups.append((g,))
    nseen: set[str] = set()
    nterms = [t for t in nterms if not (t in nseen or nseen.add(t))]
    phrase_members = {t for ph in phrases for t in ph}
    return ParsedQuery(
        terms=dedup_terms,
        not_terms=nterms,
        op=op,
        # prefix placeholders need group machinery even without synonyms
        groups=dedup_groups if (synonyms or has_prefix) else None,
        msm=msm,
        phrases=phrases,
        phrase_slops=phrase_slops,
        boosts=boosts,
        phrase_only_terms=[
            t
            for t in dedup_terms
            if t in phrase_members and t not in free_src
        ],
    )
