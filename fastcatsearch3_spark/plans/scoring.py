"""BM25 scoring kernels (SURVEY.md U-5, Q-4, O-3) — pure numpy.

Re-expresses the reference's clause-tree evaluation
(core:ir.search.clause.{And,Or,Not}OperatedClause doc-at-a-time loop [K])
as vectorized term-at-a-time accumulation over decoded posting blocks,
with two modes:

  * "taat"  — exhaustive term-at-a-time (the correctness baseline; what
    the reference effectively computes, every posting scored);
  * "bmw"   — block-max pruned evaluation (BASELINE.json: "block-max WAND
    pruning"). OR queries run MaxScore with block-max refinement: terms
    are processed in upper-bound-descending order; once the summed upper
    bounds of the remaining terms cannot lift an unseen document past the
    current k-th accumulated score θ, those terms stop being decoded in
    full and are only *probed* — block metadata locates (searchsorted on
    block-first-docnos) and decodes just the blocks containing still-live
    candidates. AND queries intersect doc-at-a-time starting from the
    rarest term, skipping whole blocks of the longer lists that cannot
    overlap the candidate set (the skip-pointer walk fastcatsearch does
    with its zipper AND, done blockwise).

Safety argument for the pruning (tested rank-identical vs "taat"):
θ is the k-th largest *accumulated-so-far* score, which only grows, so it
is always a lower bound of the final k-th score. A document skipped by a
probe satisfies acc + Σ remaining-term-UBs < θ ≤ final k-th, hence its
true score is strictly below the final k-th and it can neither enter the
top-k nor be reported with a wrong (partial) score; conversely every true
top-k document passes every probe test, so its score is exact.

BM25 (k1=1.2, b=0.75 pinned in EngineConfig; BASELINE.md):
    idf(t)        = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(t, d)   = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b*dl/avgdl))
"""

from __future__ import annotations

from dataclasses import InitVar, dataclass, field

import numpy as np

from fastcatsearch3_spark.functions.vbyte import (
    PostingMeta,
    decode_blocks,
    decode_meta,
    decode_positions_blob,
    decode_postings,
    ragged_ranges,
)


def bm25_idf(n_docs: int, df: np.ndarray | int) -> np.ndarray | float:
    return np.log(1.0 + (n_docs - np.asarray(df, dtype=np.float64) + 0.5) / (np.asarray(df, dtype=np.float64) + 0.5))


def bm25_tf_norm(
    tf: np.ndarray, dl: np.ndarray, k1: float, b: float, avgdl: float
) -> np.ndarray:
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


class PostingList:
    """One (segment, shard, term) posting list as a kernel call holds it:
    the blob, its positions sidecar (or None) and the header, plus the
    full decodes, each made at most once, on first use, and then shared
    by every query of the call that reads the list."""

    __slots__ = ("blob", "pos_blob", "meta", "_entries", "_positions")

    def __init__(
        self, blob: bytes, pos_blob: bytes | None = None,
        meta: PostingMeta | None = None,
    ):
        self.blob = blob
        self.pos_blob = pos_blob
        self.meta = decode_meta(blob) if meta is None else meta
        self._entries = None
        self._positions = None

    @property
    def decoded(self) -> bool:
        return self._entries is not None

    def entries(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(docnos, tfs, dls), all uint64."""
        if self._entries is None:
            self._entries = decode_postings(self.blob, self.meta)
        return self._entries

    def positions(self) -> tuple[np.ndarray, np.ndarray]:
        """(flat absolute positions, entry start offsets into them)."""
        if self._positions is None:
            self._positions = decode_positions_blob(
                self.pos_blob, self.entries()[1]
            )
        return self._positions


@dataclass
class TermPostings:
    """One query term's posting list within a (segment, shard) group:
    the per-query part (``idf`` with its boost, ``avgdl``) over a
    ``PostingList`` (``postings``), the part a batch shares.

    Given ``postings``, the term reads that list, which the caller may
    share, so each list is decoded at most once however many queries
    read it. Otherwise the term owns a fresh list built from ``blob``,
    ``pos_blob`` (the positions sidecar for phrase queries, optional)
    and ``meta`` (a decoded header, optional)."""

    term: str
    idf: float
    blob: InitVar[bytes | None] = None
    pos_blob: InitVar[bytes | None] = None
    # per-field average document length (multi-index collections): a
    # field-qualified term normalizes against ITS field's avgdl; None →
    # the caller's global (content) avgdl
    avgdl: float | None = None
    meta: InitVar[PostingMeta | None] = None
    postings: PostingList | None = field(default=None, repr=False, compare=False)

    def __post_init__(self, blob, pos_blob, meta):
        if self.postings is None:
            self.postings = PostingList(blob, pos_blob, meta)

    def adl(self, global_avgdl: float) -> float:
        return self.avgdl if self.avgdl is not None else global_avgdl

    def upper_bound(self, k1: float, b: float, avgdl: float) -> float:
        """idf × max over blocks of tf_norm(max_tf, min_dl) — valid because
        tf_norm is increasing in tf and decreasing in dl."""
        meta = self.postings.meta
        ub = bm25_tf_norm(
            meta.block_maxtf, meta.block_mindl, k1, b, self.adl(avgdl)
        )
        return float(self.idf * ub.max())

    def block_upper_bounds(self, k1: float, b: float, avgdl: float) -> np.ndarray:
        meta = self.postings.meta
        return self.idf * bm25_tf_norm(
            meta.block_maxtf, meta.block_mindl, k1, b, self.adl(avgdl)
        )


def _blocks_containing(meta: PostingMeta, docnos: np.ndarray) -> np.ndarray:
    """Indices of blocks whose docno range may contain any of ``docnos``
    (sorted). The skip-pointer walk, vectorized."""
    if docnos.size == 0 or meta.nblocks == 0:
        return np.zeros(0, dtype=np.int64)
    idx = np.searchsorted(meta.block_first, docnos, side="right") - 1
    idx = idx[idx >= 0]
    return np.unique(idx)


def _probe(
    tp: TermPostings, cand: np.ndarray, k1: float, b: float, avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """Exact contributions of ``tp`` for the sorted candidate docnos.
    Returns (mask over cand of membership, contribution where member).
    A list the kernel call has already decoded is searched as it is;
    otherwise only the blocks that may hold a candidate are decoded."""
    pl = tp.postings
    if pl.decoded:
        d, t, l = pl.entries()
    else:
        blocks = _blocks_containing(pl.meta, cand)
        if blocks.size == 0:
            return np.zeros(cand.size, dtype=bool), np.zeros(0)
        d, t, l = decode_blocks(pl.blob, pl.meta, blocks)
    pos = np.searchsorted(d, cand)
    ok = pos < d.size
    member = np.zeros(cand.size, dtype=bool)
    member[ok] = d[pos[ok]] == cand[ok]
    contrib = tp.idf * bm25_tf_norm(
        t[pos[member]], l[pos[member]], k1, b, tp.adl(avgdl)
    )
    return member, contrib


def phrase_mask(
    cand: np.ndarray, phrase_tps: list[TermPostings], slop: int = 0
) -> np.ndarray:
    """Boolean mask over sorted candidate docnos: True where the phrase
    occurs — at CONSECUTIVE analyzed-token positions for slop=0 (J-5), or
    within an ordered window for slop>0 ('"a b"~2' proximity): the phrase
    matches at start s iff term j has a position in [s+j, s+j+slop].

    Vectorized across all candidates at once: each term j's occurrences
    become int64 keys docno·2³² + (pos − j − δ) for δ in [0, slop]; a
    valid start exists exactly where all terms' key sets intersect. No
    per-doc Python loop; slop multiplies key counts by (slop+1), bounded
    by the tiny per-shard candidate occurrence stream."""
    if not phrase_tps or cand.size == 0:
        return np.zeros(cand.size, dtype=bool)
    keys: np.ndarray | None = None
    cand64 = cand.astype(np.int64)
    for j, tp in enumerate(phrase_tps):
        if tp.postings.pos_blob is None:
            raise ValueError(
                f"term {tp.term!r} has no positions — build the index with "
                "EngineConfig(store_positions=True) to run phrase queries"
            )
        d, tfs, _ = tp.postings.entries()
        flat, entry_starts = tp.postings.positions()
        idx = np.searchsorted(d.astype(np.int64), cand64)
        ok = idx < d.size
        member = np.zeros(cand.size, dtype=bool)
        member[ok] = d.astype(np.int64)[idx[ok]] == cand64[ok]
        entries = idx[member]
        docs = cand64[member]
        tf_e = tfs[entries].astype(np.int64)
        occ = ragged_ranges(entry_starts[entries], tf_e)
        occ_pos = flat[occ].astype(np.int64)
        occ_doc = np.repeat(docs, tf_e)
        if slop:
            # anchors down to -slop are legal (the window may hang off the
            # doc start: term 0 at position 0 can anchor s = -slop); keys
            # are offset by +slop so they never borrow into the docno bits
            valid = occ_pos >= max(0, j - slop)
            vdoc = occ_doc[valid]
            vstart = occ_pos[valid] - j
            deltas = np.arange(slop + 1, dtype=np.int64)
            starts = vstart[:, None] - deltas[None, :]
            docsm = np.broadcast_to(vdoc[:, None], starts.shape)
            okm = starts >= -slop
            kj = np.unique(
                docsm[okm] * (1 << 32) + (starts[okm] + slop)
            )
        else:
            valid = occ_pos >= j  # a start before position j is impossible
            kj = np.unique(
                occ_doc[valid] * (1 << 32) + (occ_pos[valid] - j)
            )
        keys = kj if keys is None else np.intersect1d(
            keys, kj, assume_unique=True
        )
        if keys.size == 0:
            return np.zeros(cand.size, dtype=bool)
    hit_docs = np.unique(keys >> np.int64(32))
    pos = np.searchsorted(hit_docs, cand64)
    ok = pos < hit_docs.size
    mask = np.zeros(cand.size, dtype=bool)
    mask[ok] = hit_docs[pos[ok]] == cand64[ok]
    return mask


def _score_tree(
    terms: list[TermPostings],
    tree,  # fastcatsearch3_spark.plans.query.Node
    pos_terms: set[str],
    k1: float,
    b: float,
    avgdl: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Matched-subtree evaluation of a nested boolean clause tree
    (core:ir.query.Clause nesting [K]) over a dense shard-local domain:

      * per positive-context leaf term: presence mask + dense BM25
        contribution array;
      * per node, bottom-up: (match mask, score) where an OR node's score
        sums only its MATCHING children (an unsatisfied AND branch
        contributes nothing even if some of its terms are present — Lucene
        BooleanQuery semantics), and NOT nodes gate without scoring.

    Exhaustive like TAAT (block-max pruning needs a single monotone
    accumulator; an arbitrary gate breaks the θ argument), so tree queries
    trade the BMW speedup for expressiveness — same cost class as
    msm/synonym queries. Terms are decoded in sorted-term order for
    deterministic float summation."""
    size = 0
    decoded = []
    for tp in sorted(terms, key=lambda t: t.term):
        d, t, l = tp.postings.entries()
        decoded.append((tp, d.astype(np.int64), t, l))
        size = max(size, int(d[-1]) + 1)
    presence: dict[str, np.ndarray] = {}
    contrib: dict[str, np.ndarray] = {}
    for tp, d, t, l in decoded:
        pres = np.zeros(size, dtype=bool)
        pres[d] = True
        presence[tp.term] = pres
        if tp.term in pos_terms:
            c = np.zeros(size, dtype=np.float64)
            c[d] = tp.idf * bm25_tf_norm(t, l, k1, b, tp.adl(avgdl))
            contrib[tp.term] = c
    zb = np.zeros(size, dtype=bool)
    zf = np.zeros(size, dtype=np.float64)

    def ev(node) -> tuple[np.ndarray, np.ndarray]:
        if node.kind == "term":
            p = presence.get(node.term)
            if p is None:
                return zb, zf
            return p, contrib.get(node.term, zf)
        if node.kind == "false":
            return zb, zf
        if node.kind == "not":
            m, _ = ev(node.children[0])
            return ~m, zf
        kids = [ev(c) for c in node.children]
        score = np.zeros(size, dtype=np.float64)
        for _, s in kids:
            score += s
        if node.kind == "and":
            mask = np.ones(size, dtype=bool)
            for m, _ in kids:
                mask &= m
        else:  # or
            need = node.msm if node.msm is not None else 1
            cnt = np.zeros(size, dtype=np.int32)
            for m, _ in kids:
                cnt += m
            mask = cnt >= need
        score[~mask] = 0.0
        return mask, score

    mask, score = ev(tree)
    cand = np.nonzero(mask)[0]
    return cand.astype(np.uint64), score[cand]


def _topk(scores: np.ndarray, docnos: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Top-k by (score desc, docno asc); deterministic."""
    if scores.size == 0:
        return docnos[:0], scores[:0]
    k = min(k, scores.size)
    if scores.size > 4 * k:
        part = np.argpartition(-scores, k - 1)[: max(k * 2, k)]
        # keep enough to resolve ties at the boundary deterministically:
        kth = scores[part[np.argsort(-scores[part], kind="mergesort")[k - 1]]]
        keep = np.nonzero(scores >= kth)[0]
    else:
        keep = np.arange(scores.size)
    order = np.lexsort((docnos[keep], -scores[keep]))[:k]
    sel = keep[order]
    return docnos[sel], scores[sel]


def score_group(
    terms: list[TermPostings],
    *,
    n_candidates_hint: int | None = None,
    k: int,
    op: str = "OR",
    mode: str = "bmw",
    k1: float,
    b: float,
    avgdl: float,
    not_terms: list[TermPostings] | None = None,
    allow_docnos: np.ndarray | None = None,
    deny_docnos: np.ndarray | None = None,
    groups: list[tuple[int, ...]] | None = None,
    n_groups: int | None = None,
    msm: int | None = None,
    phrase_tps: "list[list[TermPostings] | None] | None" = None,
    phrase_slops: list[int] | None = None,
    tree=None,  # plans.query.Node — nested boolean; overrides op/groups/msm
    tree_pos_terms: set[str] | None = None,
    phrase_only_terms: set[str] | None = None,
    after_score: float | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Score one (segment, shard) group. Returns (docnos, scores) of the
    local top-k, score-desc / docno-asc ordered.

    ``after_score`` (cursor pagination, O-2 at depth): keep the local
    top-k of docs scoring STRICTLY BELOW the cursor, plus EVERY doc
    scoring exactly at it (the global doc_id tie-break can only be
    resolved after the docmap join, and exact-float ties don't map to
    docno order) — so each shard ships k + #ties rows no matter how
    deep the page, where offset paging ships offset + k.

    ``phrase_tps``: per phrase, the member TermPostings (with pos_blob) in
    phrase order — candidates failing the consecutive-position check are
    dropped BEFORE top-k selection (J-5).

    ``allow_docnos`` / ``deny_docnos`` implement filter pushdown into the
    kernel (P-2..P-5 predicates resolved to shard-local docno sets) and
    the delete-set mask (P-7): filters must apply *before* top-k selection
    or excluded docs would occupy result slots.

    ``msm`` (minimum-should-match): under OR, require ≥ msm distinct query
    terms (or, with groups, ≥ msm distinct groups) per doc — the
    reference's clause-tree middle ground between OR (msm=1) and AND
    (msm=n). Needs exhaustive evaluation (hit counting), so MaxScore
    pruning is bypassed."""
    not_terms = not_terms or []
    if not terms:
        return np.zeros(0, dtype=np.uint64), np.zeros(0)
    or_phrases = bool(phrase_tps) and op == "OR" and tree is None
    if or_phrases:
        # flat OR with phrase clauses: each phrase is one optional SHOULD
        # clause (see _score_or_phrases); the phrase gate is applied
        # per-clause inside, NOT as the global post-filter below. With
        # synonym/prefix ``groups``, each GROUP is one SHOULD clause
        # (any free member term matches it), mirroring _score_taat's
        # group-hit counting under plain OR.
        docnos, scores = _score_or_phrases(
            terms,
            phrase_tps,
            phrase_slops,
            phrase_only_terms or set(),
            k1,
            b,
            avgdl,
            msm=msm,
            groups=groups,
        )
    elif tree is not None:
        # nested boolean: ``terms`` carries every fetched TermPostings
        # (both contexts — NOT leaves are evaluated inside the tree);
        # allow/deny masks and phrases still apply below
        docnos, scores = _score_tree(
            terms, tree, tree_pos_terms or set(), k1, b, avgdl
        )
    elif msm is not None and op == "OR":
        docnos, scores = _score_taat(
            terms, op, k1, b, avgdl, groups=groups, n_groups=n_groups, msm=msm
        )
    elif groups is not None and op == "AND":
        # synonym groups change the AND gate to per-group coverage; the
        # blockwise intersection doesn't apply — exhaustive TAAT is exact
        docnos, scores = _score_taat(
            terms, op, k1, b, avgdl, groups=groups, n_groups=n_groups
        )
    elif op == "AND" and mode == "bmw":
        docnos, scores = _score_and_bmw(terms, k1, b, avgdl)
    elif mode == "bmw" and op == "OR":
        docnos, scores = _score_or_maxscore(
            terms, k, k1, b, avgdl,
            # the cursor needs docs below the previous page's floor, so
            # MaxScore's own top-k theta pruning must be disabled too
            unlimited=(allow_docnos is not None or deny_docnos is not None
                       or bool(not_terms) or bool(phrase_tps)
                       or after_score is not None),
        )
    else:
        docnos, scores = _score_taat(terms, op, k1, b, avgdl)
    # phrase adjacency/proximity filter (J-5) — before top-k, like every
    # filter (under OR the gate already happened per-clause above)
    if phrase_tps and not or_phrases:
        slops = phrase_slops or [0] * len(phrase_tps)
        keep = np.ones(docnos.size, dtype=bool)
        for ptps, sl in zip(phrase_tps, slops):
            keep &= phrase_mask(docnos, ptps, slop=sl)
        docnos, scores = docnos[keep], scores[keep]
    # NOT clause (J-4) + filters (P-*) + deletes (P-7)
    if not_terms or allow_docnos is not None or deny_docnos is not None:
        keep = np.ones(docnos.size, dtype=bool)
        for nt in not_terms:
            member, _ = _probe(nt, docnos, k1, b, avgdl)
            keep &= ~member
        if allow_docnos is not None:
            pos = np.searchsorted(allow_docnos, docnos)
            ok = pos < allow_docnos.size
            m = np.zeros(docnos.size, dtype=bool)
            m[ok] = allow_docnos[pos[ok]] == docnos[ok]
            keep &= m
        if deny_docnos is not None:
            pos = np.searchsorted(deny_docnos, docnos)
            ok = pos < deny_docnos.size
            m = np.zeros(docnos.size, dtype=bool)
            m[ok] = deny_docnos[pos[ok]] == docnos[ok]
            keep &= ~m
        docnos, scores = docnos[keep], scores[keep]
    if after_score is not None:
        tied = scores == after_score
        td, ts = docnos[tied], scores[tied]
        below = scores < after_score
        bd, bs = _topk(scores[below], docnos[below], k)
        return np.concatenate([td, bd]), np.concatenate([ts, bs])
    return _topk(scores, docnos, k)


def _score_or_phrases(
    terms: list[TermPostings],
    phrase_tps: "list[list[TermPostings] | None]",
    phrase_slops: list[int] | None,
    phrase_only: set[str],
    k1: float,
    b: float,
    avgdl: float,
    msm: int | None = None,
    groups: list[tuple[int, ...]] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Flat OR with phrase clauses ('"a b" OR c' — Lucene BooleanQuery of
    SHOULD clauses where one clause is a PhraseQuery):

      * each phrase is ONE optional clause — it matches where its terms
        occur in the required positional window (phrase_mask);
      * each free (non-phrase-member) term is one optional clause matched
        by presence; with synonym/prefix ``groups`` (aligned with
        ``terms``), each distinct GROUP is the clause instead — it matches
        where any of its free member terms is present (Lucene
        SynonymQuery-as-SHOULD-clause), consistent with _score_taat's
        group-hit counting under plain OR. Groups whose members are all
        phrase-only never count as free clauses: the phrase IS their
        clause;
      * a doc matches when >= ``msm`` (default 1) clauses match;
      * terms occurring ONLY inside a phrase (``phrase_only``) contribute
        score exactly where one of their phrases matches (presence-gated),
        consistent with the engine's phrase scoring under AND (BM25 over
        the member terms, adjacency as the gate);
      * a ``None`` entry in ``phrase_tps`` is a phrase unmatchable in this
        shard (a member term has no postings here) — its clause simply
        never matches; other clauses live on, unlike AND semantics.

    Exhaustive evaluation (no MaxScore pruning): the phrase gate depends
    on positions, so per-term upper bounds can't bound clause scores."""
    slops = phrase_slops or [0] * len(phrase_tps)
    term_gids = (
        {tp.term: gs for tp, gs in zip(terms, groups)}
        if groups is not None
        else None
    )
    decoded: dict[str, tuple[TermPostings, np.ndarray, np.ndarray, np.ndarray]] = {}
    # sorted-term insertion order → deterministic float summation
    for tp in sorted(terms, key=lambda t: t.term):
        d, t, l = tp.postings.entries()
        decoded[tp.term] = (tp, d.astype(np.int64), t, l)
    all_d = np.unique(
        np.concatenate([e[1] for e in decoded.values()])
    )
    cand = all_d.astype(np.uint64)
    pmasks: list[np.ndarray] = []
    for ptps, sl in zip(phrase_tps, slops):
        if ptps is None:
            pmasks.append(np.zeros(cand.size, dtype=bool))
        else:
            pmasks.append(phrase_mask(cand, ptps, slop=sl))
    acc = np.zeros(cand.size, dtype=np.float64)
    matched = np.zeros(cand.size, dtype=np.int64)
    gid_hit: dict[int, np.ndarray] = {}
    for term, (tp, d, t, l) in decoded.items():
        pos = np.searchsorted(all_d, d)  # d ⊆ all_d → exact positions
        contrib = tp.idf * bm25_tf_norm(t, l, k1, b, tp.adl(avgdl))
        if term in phrase_only:
            gate = np.zeros(cand.size, dtype=bool)
            for m, ptps in zip(pmasks, phrase_tps):
                if ptps is not None and any(p.term == term for p in ptps):
                    gate |= m
            g = gate[pos]
            acc[pos[g]] += contrib[g]
        else:
            acc[pos] += contrib
            if term_gids is None:
                matched[pos] += 1
            else:
                # group-as-clause: a term credits EVERY group it belongs
                # to; the group counts once per doc however many members hit
                for gid in term_gids[term]:
                    m = gid_hit.setdefault(
                        gid, np.zeros(cand.size, dtype=bool)
                    )
                    m[pos] = True
    for m in gid_hit.values():
        matched += m
    for m in pmasks:
        matched += m
    need = msm if msm is not None else 1
    keep = matched >= need
    return cand[keep], acc[keep]


def _score_taat(
    terms: list[TermPostings],
    op: str,
    k1: float,
    b: float,
    avgdl: float,
    groups: list[tuple[int, ...]] | None = None,
    n_groups: int | None = None,
    msm: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Exhaustive TAAT over a dense shard-local accumulator. Terms are
    accumulated in sorted-term order for deterministic float summation.

    With ``groups`` (synonym expansion, F-6: groups[i] is the tuple of term
    i's synonym group ids), AND requires every GROUP to match (any member term counts) —
    the flat clause-tree `AND(OR(syn...), ...)` semantics of the
    reference's query-side synonym expansion (core:ir.analysis synonym
    dict [M])."""
    size = 0
    decoded = []
    order = sorted(range(len(terms)), key=lambda i: terms[i].term)
    for i in order:
        tp = terms[i]
        d, t, l = tp.postings.entries()
        decoded.append((i, tp, d.astype(np.int64), t, l))
        size = max(size, int(d[-1]) + 1)
    acc = np.zeros(size, dtype=np.float64)
    hits = np.zeros(size, dtype=np.int32)
    group_docs: dict[int, list[np.ndarray]] = {}
    for i, tp, d, t, l in decoded:
        acc[d] += tp.idf * bm25_tf_norm(t, l, k1, b, tp.adl(avgdl))
        if groups is None:
            hits[d] += 1
        else:
            # a term credits EVERY synonym group it belongs to
            for gid in groups[i]:
                group_docs.setdefault(gid, []).append(d)
    if groups is not None:
        for arrs in group_docs.values():
            u = np.unique(np.concatenate(arrs))
            hits[u] += 1
        need = (n_groups if n_groups is not None else len(group_docs)) if op == "AND" else 1
    else:
        need = len(terms) if op == "AND" else 1
    if msm is not None and op == "OR":
        need = msm  # minimum-should-match: ≥ msm distinct terms/groups
    cand = np.nonzero(hits >= need)[0]
    return cand.astype(np.uint64), acc[cand]


def _score_and_bmw(
    terms: list[TermPostings], k1: float, b: float, avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """Intersection starting from the rarest term; longer lists are only
    decoded blockwise where they can overlap the shrinking candidate set."""
    order = sorted(terms, key=lambda t: (t.postings.meta.n, t.term))
    lead = order[0]
    d, t, l = lead.postings.entries()
    cand = d.astype(np.int64)
    score = lead.idf * bm25_tf_norm(t, l, k1, b, lead.adl(avgdl))
    for tp in order[1:]:
        if cand.size == 0:
            break
        member, contrib = _probe(tp, cand.astype(np.uint64), k1, b, avgdl)
        cand = cand[member]
        score = score[member] + contrib
    return cand.astype(np.uint64), score


def _score_or_maxscore(
    terms: list[TermPostings],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    unlimited: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """MaxScore with block-max probes (module docstring has the safety
    argument). With ``unlimited`` (post-filters pending downstream) the
    pruning is disabled — a filter may eliminate top docs, so every match
    must be scored."""
    ubs = [tp.upper_bound(k1, b, avgdl) for tp in terms]
    order = np.argsort(-np.asarray(ubs), kind="mergesort")
    terms = [terms[i] for i in order]
    ubs = [ubs[i] for i in order]
    suffix_ub = np.concatenate((np.cumsum(np.asarray(ubs)[::-1])[::-1], [0.0]))

    size = 0
    for tp in terms:
        size = max(size, tp.postings.meta.last_docno + 1)
    acc = np.zeros(size, dtype=np.float64)
    present = np.zeros(size, dtype=bool)
    theta = -np.inf

    for i, tp in enumerate(terms):
        rem = suffix_ub[i]  # this term + all later could add at most `rem`
        if unlimited or i == 0 or not np.isfinite(theta) or theta < rem:
            d, t, l = tp.postings.entries()
            dn = d.astype(np.int64)
            acc[dn] += tp.idf * bm25_tf_norm(t, l, k1, b, tp.adl(avgdl))
            present[dn] = True
        else:
            live = np.nonzero(present)[0]
            live = live[acc[live] + rem >= theta]
            if live.size == 0:
                continue
            member, contrib = _probe(tp, live.astype(np.uint64), k1, b, avgdl)
            acc[live[member]] += contrib
        if not unlimited:
            pres_scores = acc[present]
            if pres_scores.size >= k:
                theta = np.partition(pres_scores, pres_scores.size - k)[
                    pres_scores.size - k
                ]
    cand = np.nonzero(present)[0]
    return cand.astype(np.uint64), acc[cand]


def score_bm25f(
    words: "list[tuple[float, list[tuple[float, TermPostings]]]]",
    *,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    deny_docnos: np.ndarray | None = None,
    allow_docnos: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """True BM25F for one (segment, shard) group (Robertson & Zaragoza's
    'Simple BM25 extension to multiple weighted fields', CIKM'04): per
    query word, the field-weighted LENGTH-NORMALIZED tf values are merged
    across fields FIRST —

        tf~(w, d) = sum_f  weight_f * tf_f / (1 - b + b * dl_f / avgdl_f)

    — and saturation applies ONCE to the merged value:

        score(d) = sum_w  idf_w * tf~ * (k1 + 1) / (k1 + tf~)

    This differs from the qf weighted-sum mode (parse_multifield), which
    saturates each field independently and sums the saturated scores: a
    term spread thinly across several fields saturates faster under qf
    than under BM25F. ``idf_w`` must be the DOC-level idf (union df across
    fields — see search.dfu_for_terms). AND semantics across words (every
    word must match in >= 1 field). ``words``: per query word,
    (idf, [(field_weight, TermPostings), ...]); each TermPostings carries
    its field's avgdl."""
    size = 0
    decoded: list[tuple[float, list[tuple[float, np.ndarray, np.ndarray, np.ndarray]]]] = []
    for idf, ftps in words:
        dec = []
        for wgt, tp in ftps:
            d, t, l = tp.postings.entries()
            dn = d.astype(np.int64)
            dec.append((wgt, dn, t, l, tp.adl(avgdl)))
            if dn.size:
                size = max(size, int(dn[-1]) + 1)
        decoded.append((idf, dec))
    if size == 0:
        return np.zeros(0, dtype=np.uint64), np.zeros(0)
    acc = np.zeros(size, dtype=np.float64)
    nwords = np.zeros(size, dtype=np.int32)
    for idf, dec in decoded:
        tft = np.zeros(size, dtype=np.float64)
        for wgt, dn, t, l, adl in dec:
            # field-weighted, field-length-normalized tf — NOT saturated
            tft[dn] += wgt * t / (1.0 - b + b * l / adl)
        matched = tft > 0.0
        nwords[matched] += 1
        sat = tft[matched]
        acc[matched] += idf * sat * (k1 + 1.0) / (k1 + sat)
    cand = np.nonzero(nwords >= len(words))[0]
    docnos, scores = cand.astype(np.uint64), acc[cand]
    if allow_docnos is not None and docnos.size:
        # allow-filter in force: an empty allow set means nothing passes
        pos = np.searchsorted(allow_docnos, docnos)
        ok = pos < allow_docnos.size
        m = np.zeros(docnos.size, dtype=bool)
        m[ok] = allow_docnos[pos[ok]] == docnos[ok]
        docnos, scores = docnos[m], scores[m]
    if deny_docnos is not None and docnos.size:
        pos = np.searchsorted(deny_docnos, docnos)
        ok = pos < deny_docnos.size
        m = np.zeros(docnos.size, dtype=bool)
        m[ok] = deny_docnos[pos[ok]] == docnos[ok]
        docnos, scores = docnos[~m], scores[~m]
    return _topk(scores, docnos, k)


# ---------------------------------------------------------------------------
# Factor-aware scoring (function_score with early termination, O-3 applied
# to static stored-field boosts — VERDICT r04 next-round #4)
# ---------------------------------------------------------------------------

def _combine_factor(
    acc: np.ndarray, fac: np.ndarray, boost_mode: str
) -> np.ndarray:
    return acc * fac if boost_mode == "multiply" else acc + fac


def _score_or_maxscore_factored(
    terms: list[TermPostings],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    factors: np.ndarray,
    boost_mode: str,
    unlimited: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """MaxScore where the top-k threshold θ lives on the FINAL
    (factor-combined) score, so a static bounded per-doc factor prunes
    instead of forcing exhaustive evaluation (the full-eval fallback in
    plans/search.function_score).

    ``factors``: float64 per-docno array, neutral-filled (1 for multiply,
    0 for sum) and NON-NEGATIVE (enforced at artifact build) — so a doc's
    final score is non-decreasing as terms accumulate, which keeps the
    MaxScore safety argument intact:

      * θ = k-th largest final-so-far; acc only grows and factor is a
        fixed non-negative multiplier/addend, so final-so-far only grows
        and θ is a lower bound of the final k-th score.
      * a doc pruned at term i satisfies
        combine(acc + Σ remaining UBs, factor(d)) < θ — an upper bound of
        its true final — so it can never enter the top-k;
      * an UNSEEN doc at term i is bounded by combine(Σ remaining UBs,
        max(factors)); once that falls below θ, later terms stop being
        decoded in full and are only probed for still-live candidates.

    Returns (docnos, bm25_scores, finals) — ALL still-present docs; the
    caller truncates (pruned docs may carry partial bm25, but no pruned
    doc can reach the final top-k, per the argument above)."""
    ubs = [tp.upper_bound(k1, b, avgdl) for tp in terms]
    order = np.argsort(-np.asarray(ubs), kind="mergesort")
    terms = [terms[i] for i in order]
    ubs = [ubs[i] for i in order]
    suffix_ub = np.concatenate((np.cumsum(np.asarray(ubs)[::-1])[::-1], [0.0]))

    size = factors.size
    for tp in terms:
        size = max(size, tp.postings.meta.last_docno + 1)
    if factors.size < size:
        neutral = 1.0 if boost_mode == "multiply" else 0.0
        factors = np.concatenate(
            [factors, np.full(size - factors.size, neutral)]
        )
    fmax = float(factors.max()) if size else 0.0
    acc = np.zeros(size, dtype=np.float64)
    present = np.zeros(size, dtype=bool)
    theta = -np.inf

    for i, tp in enumerate(terms):
        rem = suffix_ub[i]
        unseen_ub = rem * fmax if boost_mode == "multiply" else rem + fmax
        if unlimited or i == 0 or not np.isfinite(theta) or theta < unseen_ub:
            d, t, l = tp.postings.entries()
            dn = d.astype(np.int64)
            acc[dn] += tp.idf * bm25_tf_norm(t, l, k1, b, tp.adl(avgdl))
            present[dn] = True
        else:
            live = np.nonzero(present)[0]
            bound = _combine_factor(acc[live] + rem, factors[live], boost_mode)
            live = live[bound >= theta]
            if live.size == 0:
                continue
            member, contrib = _probe(tp, live.astype(np.uint64), k1, b, avgdl)
            acc[live[member]] += contrib
        if not unlimited:
            pres = np.nonzero(present)[0]
            if pres.size >= k:
                finals = _combine_factor(acc[pres], factors[pres], boost_mode)
                theta = np.partition(finals, finals.size - k)[finals.size - k]
    cand = np.nonzero(present)[0]
    finals = _combine_factor(acc[cand], factors[cand], boost_mode)
    return cand.astype(np.uint64), acc[cand], finals


def score_group_factored(
    terms: list[TermPostings],
    *,
    k: int,
    op: str,
    k1: float,
    b: float,
    avgdl: float,
    factors: np.ndarray,
    boost_mode: str,
    not_terms: list[TermPostings] | None = None,
    deny_docnos: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Score one (segment, shard) group under a static per-doc factor.
    Returns the local top-k by FINAL score: (docnos, bm25, factor, final),
    final-desc / docno-asc ordered.

    AND runs the exact blockwise intersection (its candidate set is
    rarest-list-sized, no pruning needed) and combines after; OR runs the
    factored MaxScore above. NOT terms / deny masks disable pruning
    (a post-filter may evict top docs — same trade as score_group)."""
    not_terms = not_terms or []
    if not terms:
        z = np.zeros(0)
        return np.zeros(0, dtype=np.uint64), z, z, z
    unlimited = bool(not_terms) or deny_docnos is not None
    if op == "AND":
        docnos, bm25 = _score_and_bmw(terms, k1, b, avgdl)
        dn = docnos.astype(np.int64)
        neutral = 1.0 if boost_mode == "multiply" else 0.0
        fac = np.where(
            dn < factors.size, factors[np.minimum(dn, max(factors.size - 1, 0))],
            neutral,
        ) if factors.size else np.full(dn.size, neutral)
        finals = _combine_factor(bm25, fac, boost_mode)
    else:
        docnos, bm25, finals = _score_or_maxscore_factored(
            terms, k, k1, b, avgdl, factors, boost_mode,
            unlimited=unlimited,
        )
        dn = docnos.astype(np.int64)
        neutral = 1.0 if boost_mode == "multiply" else 0.0
        fac = (
            np.where(dn < factors.size,
                     factors[np.minimum(dn, max(factors.size - 1, 0))],
                     neutral)
            if factors.size else np.full(dn.size, neutral)
        )
    if not_terms or deny_docnos is not None:
        keep = np.ones(docnos.size, dtype=bool)
        for nt in not_terms:
            member, _ = _probe(nt, docnos, k1, b, avgdl)
            keep &= ~member
        if deny_docnos is not None:
            pos = np.searchsorted(deny_docnos, docnos)
            ok = pos < deny_docnos.size
            m = np.zeros(docnos.size, dtype=bool)
            m[ok] = deny_docnos[pos[ok]] == docnos[ok]
            keep &= ~m
        docnos, bm25, fac, finals = (
            docnos[keep], bm25[keep], fac[keep], finals[keep]
        )
    sel_docnos, sel_finals = _topk(finals, docnos, k)
    # map selection back to bm25/factor (docnos unique within a shard)
    order = np.argsort(docnos)
    idx = order[np.searchsorted(docnos[order], sel_docnos)]
    return sel_docnos, bm25[idx], fac[idx], sel_finals
