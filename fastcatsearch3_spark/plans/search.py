"""Query serving over the packed index (SURVEY.md §3.1, Q-3..Q-6).

Reference read path: SearchAction → Query tree → per-segment
SegmentSearcher doc-at-a-time clause evaluation → per-node top-k →
cluster merge (server:…job.ClusterSearchJob [K]).

Every BM25 read is one computation, written once:

* ``query_spec`` — the presence gates. A parsed query against the
  lexicon dfs becomes its spec (idf with caret boosts, NOT set, synonym
  groups, msm, surviving phrases, clause tree), or None when it cannot
  match.
* ``make_kernel`` — the per-(segment, shard) scoring function. It scores
  a list of specs (and BM25F specs) against one group's posting rows
  and emits every query's local top-k as (query_id, segment_id, shard,
  docno, score) rows, one frame per group.
* ``_score_shards`` — runs that kernel on one of the two routes below.

``search_many`` scores N specs in one pass. ``search_index`` is a batch
of one with its own tail (offset / after paging, ``_return_all`` and
the docmap pushdown). ``search_bm25f``, ``rescore_topk`` and
``function_score_topk`` are one-query calls of ``search_many``,
``rescore_many`` and ``function_score_many``; the last runs the one
other kernel, the factor-aware MaxScore.

The two routes run the same kernel and rank in the same order, so they
return identical answers:

* **Driver route** — taken when no ``allow_doc_ids`` frame is given,
  ``_return_all`` is off and the index is small (postings plus docmap
  bytes on disk under ``index.LOCAL_MAX_BYTES``). On indexes this small
  a read's cost is crossing into Spark (several jobs per request), not
  computing, so the driver does it all in-process and starts no job:

    Q-3  candidate fetch: pyarrow reads the query terms' postings rows
         (``IndexStore.local_view``);
    Q-4  scoring: ``_run_local`` calls the kernel once per local
         (segment_id, shard) group, with that group's slice of the
         per-epoch denied set (docmap ⋈ deletes in pandas). A call
         decodes each of the group's posting lists at most once, on
         first use, and every query of the batch shares that decode
         (``_group_postings``); a list no query reads in full is only
         block-probed, and a list is freed once the last query that
         reads it has scored (``_last_reads``). The call emits one
         hits frame for the group;
    Q-6  top-k: pandas sorts the hits (score desc, doc_id asc) and pages
         them (offset / after), per query_id for a batch;
    Q-5  hydrate: doc_ids come from the per-epoch docmap; the result
         goes back as an Arrow-backed frame (``local_frame``), so
         collecting it runs no Spark job either.

  Any pyarrow read failure falls back to the Spark route.

* **Spark route** — every other request:

    Q-3  candidate fetch: postings scan filtered to the analyzed query
         terms — an `isin` predicate pushed to Parquet (bloom filter on
         `term` set at write time), NOT a join, so only matching
         row-groups are read;
    Q-4  scoring: applyInPandas kernel per (segment_id, shard) group
         (``_group_apply``) — every group holds all of its docs'
         postings for all query terms, so AND/OR/NOT and block-max
         pruning are shard-local and exact; the same kernel, so the
         same once-per-call decode and one frame per group;
    Q-6  scatter-gather: each group emits its local top-k; the global
         orderBy(score desc, doc_id asc).limit(k) compiles to Spark's
         TakeOrderedAndProject — the same partial/final top-k merge the
         reference's ClusterSearchJob hand-rolls over netty;
    Q-5  hydrate: the ≤ k×groups surviving hits are joined (broadcast)
         back to docmap for doc_ids, then optionally to the corpus for
         stored fields.

Filters/deletes (P-2..P-7) resolve to shard-local docno sets cogrouped
into the kernel so exclusion happens BEFORE top-k selection. Empty
early returns are Arrow-backed local frames too (``local_frame``).
"""

from __future__ import annotations

from dataclasses import dataclass as _dataclass
from typing import NamedTuple

import re as _re

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.functions.vbyte import decode_postings_many, ragged_ranges
from fastcatsearch3_spark.plans.query import (
    ParsedQuery,
    analyze_words,
    parse_query,
)
from fastcatsearch3_spark.plans.scoring import (
    PostingList,
    TermPostings,
    bm25_idf,
    score_bm25f,
    score_group,
    score_group_factored,
)

KERNEL_SCHEMA = (
    "query_id string, segment_id int, shard int, docno bigint, score double"
)
HITS_SCHEMA = "doc_id long, score double"
BATCH_HITS_SCHEMA = "query_id string, doc_id long, score double"

# parsing a DDL schema is a JVM round trip (~4 ms); parse each one once
_DDL_CACHE: dict = {}


def local_frame(spark: SparkSession, schema, rows=None) -> DataFrame:
    """A driver-resident result frame backed by an Arrow table. It plans
    as a ``LocalTableScan``, so collecting it starts no Spark job; a
    frame built from a Python list is an RDD scan whose collect runs one
    (≈0.4 s on a local session, even when empty). ``schema``: a DDL
    string or a StructType; ``rows``: a pandas frame holding the
    schema's columns, a list of tuples / Rows, or None for no rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    st = schema
    if isinstance(schema, str):
        st = _DDL_CACHE.get(schema)
        if st is None:
            st = _DDL_CACHE[schema] = DataType.fromDDL(schema)
    asch = to_arrow_schema(st)
    if isinstance(rows, pd.DataFrame):
        tbl = pa.Table.from_pandas(
            rows[st.names], schema=asch, preserve_index=False
        )
    else:
        cols = list(zip(*rows)) if rows else [()] * len(asch)
        tbl = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, asch)],
            schema=asch,
        )
    return spark.createDataFrame(tbl, st)


def _run_local(
    kernel, cand: pd.DataFrame, mask: pd.DataFrame | None
) -> pd.DataFrame | None:
    """Run a shard kernel ``kernel(pdf, mask_pdf)`` on the driver once
    per (segment_id, shard) group of ``cand``, as the Spark route's
    (co)grouped applyInPandas does (``_group_apply``): with ``mask`` each
    group gets its mask rows (an empty frame when it has none, as a
    cogroup passes), otherwise None. Returns the concatenated non-empty
    outputs, or None."""
    if mask is not None:
        by_key = dict(iter(mask.groupby(["segment_id", "shard"])))
        none = mask.iloc[:0]
    outs = []
    for key, g in cand.groupby(["segment_id", "shard"], sort=True):
        m = None if mask is None else by_key.get(key, none).reset_index(drop=True)
        outs.append(kernel(g.reset_index(drop=True), m))
    outs = [o for o in outs if len(o)]
    return pd.concat(outs, ignore_index=True) if outs else None


def _rank_local(
    hits: pd.DataFrame | None, dm: pd.DataFrame, k: int, by_query: bool = False,
    offset: int = 0, after: "tuple[float, int] | None" = None,
) -> pd.DataFrame | None:
    """Hydrate kernel hits to doc_ids and rank them in the Spark route's
    order: (score desc, doc_id asc), paged by ``offset`` / ``after``;
    with ``by_query``, the top k per query_id, ordered by query_id."""
    if hits is None:
        return None
    out = hits.merge(dm, on=["segment_id", "shard", "docno"])
    if after is not None:
        s0, i0 = float(after[0]), int(after[1])
        out = out[
            (out["score"] < s0) | ((out["score"] == s0) & (out["doc_id"] > i0))
        ]
    if by_query:
        out = out.sort_values(
            ["query_id", "score", "doc_id"], ascending=[True, False, True]
        )
        return out.groupby("query_id", sort=False).head(k)
    out = out.sort_values(["score", "doc_id"], ascending=[False, True])
    return out.iloc[offset:offset + k]


class QuerySpec(NamedTuple):
    """One query's scoring spec, built by ``query_spec``. Every term in
    it is in the lexicon."""

    qid: str
    qidf: dict  # positive term → idf × caret boost
    nset: frozenset  # NOT terms
    op: str
    groups: "dict | None"  # term → synonym/prefix group ids
    n_groups: "int | None"
    msm: "int | None"
    phrases: "list | None"  # the phrases whose every term is indexed
    slops: "list | None"
    tree: object  # plans.query.Node; None for a flat query
    phrase_only: "frozenset | None"


def query_spec(
    qid: str, pq: ParsedQuery, dfmap: dict, n_docs: int
) -> QuerySpec | None:
    """The presence gates: the spec of ``pq`` over the terms the lexicon
    holds (``dfmap``: term → df), or None when no doc can match — an
    AND'd term or synonym group or a required phrase has an unindexed
    term, or too few terms / clauses are indexed to reach msm. Every
    BM25 read builds its specs here."""
    flat = pq.tree is None
    terms = [t for t in pq.terms if t in dfmap]
    if not terms:
        return None
    tg = (
        {t: gs for t, gs in zip(pq.terms, pq.groups) if t in dfmap}
        if pq.groups is not None
        else None
    )
    present = (
        len({g for gs in tg.values() for g in gs}) if tg is not None
        else len(terms)
    )
    if flat and pq.op == "AND":
        # a term credits every group it belongs to, so AND fails only
        # when a whole group (without groups: any term) is unindexed
        if present < (pq.n_groups if tg is not None else len(pq.terms)):
            return None
    if flat and pq.op == "OR" and pq.msm is not None and present < pq.msm:
        return None
    # caret boosts (J-6 per clause) scale the term's idf weight, so every
    # scoring mode sees them through TermPostings.idf
    qidf = {t: float(bm25_idf(n_docs, dfmap[t])) for t in terms}
    for t, w in (pq.boosts or {}).items():
        if t in qidf:
            qidf[t] *= w
    kept = [
        (ph, sl)
        for ph, sl in zip(pq.phrases, pq.phrase_slops)
        if all(t in dfmap for t in ph)
    ]
    phrase_only = set(pq.phrase_only_terms) & set(terms)
    if len(kept) < len(pq.phrases):
        if pq.op == "AND" or not flat:
            return None  # a required phrase with an unindexed term never matches
        # OR: the dead phrase clause never matches, and its phrase-only
        # member terms must not score as free terms either
        viable = {t for ph, _ in kept for t in ph}
        for t in phrase_only - viable:
            qidf.pop(t)
        phrase_only &= viable
        if not qidf:
            return None
    if flat and pq.op == "OR" and pq.msm is not None and kept:
        # msm counts CLAUSES here: free terms (with synonym/prefix groups,
        # distinct free-term groups) plus viable phrases
        free = [t for t in qidf if t not in phrase_only]
        n_free = (
            len({g for t in free for g in tg[t]}) if tg is not None
            else len(free)
        )
        if n_free + len(kept) < pq.msm:
            return None
    return QuerySpec(
        qid=qid,
        qidf=qidf,
        nset=frozenset(t for t in pq.not_terms if t in dfmap),
        op=pq.op,
        groups=tg,
        n_groups=pq.n_groups if tg is not None else None,
        msm=pq.msm,
        phrases=[ph for ph, _ in kept] or None,
        slops=[sl for _, sl in kept] or None,
        tree=pq.tree,
        phrase_only=frozenset(phrase_only) or None,
    )


class _GroupHits:
    """One (segment, shard) group's kernel output, gathered per query as
    arrays and emitted as one frame: the key columns, then ``cols``."""

    def __init__(self, *cols: str):
        self.qids: list = []
        self.docnos: list = []
        self.cols = {c: [] for c in cols}

    def add(self, qid, docnos: np.ndarray, *vals: np.ndarray) -> None:
        if docnos.size:
            self.qids.append(qid)
            self.docnos.append(docnos)
            for parts, v in zip(self.cols.values(), vals):
                parts.append(v)

    def frame(self, seg: int, shard: int) -> pd.DataFrame:
        sizes = [d.size for d in self.docnos]
        n = sum(sizes)

        def cat(parts, dtype):
            if not parts:
                return np.zeros(0, dtype)
            return np.concatenate(parts).astype(dtype, copy=False)

        return pd.DataFrame(
            {
                "query_id": np.repeat(np.array(self.qids, dtype=object), sizes),
                "segment_id": np.full(n, seg, np.int32),
                "shard": np.full(n, shard, np.int32),
                "docno": cat(self.docnos, np.int64),
                **{c: cat(v, np.float64) for c, v in self.cols.items()},
            }
        )


def _group_postings(pdf: pd.DataFrame) -> "dict[str, PostingList]":
    """A group's posting rows as term → ``PostingList``: each header is
    decoded here, each list's entries and positions at most once, on
    first use, and every spec of the kernel call shares them."""
    pos_blobs = (
        pdf["positions"] if "positions" in pdf.columns else [None] * len(pdf)
    )
    return {
        t: PostingList(bytes(bl), bytes(pbl) if pbl is not None else None)
        for t, bl, pbl in zip(pdf["term"], pdf["postings"], pos_blobs)
    }


def _last_reads(readers: list) -> list[list[str]]:
    """Per reader (the terms one spec reads, in kernel order), the terms
    no later reader reads: the kernel drops a list after its last
    reader, so a list's decodes live only while a spec still needs
    them."""
    last: dict[str, int] = {}
    for i, terms in enumerate(readers):
        for t in terms:
            last[t] = i
    out: list[list[str]] = [[] for _ in readers]
    for t, i in last.items():
        out[i].append(t)
    return out


def _drop(lists: dict, terms: list[str]) -> None:
    """Free the lists (and their decodes) of terms no later spec reads."""
    for t in terms:
        lists.pop(t, None)


_NO_DOCNOS = np.zeros(0, dtype=np.uint64)
_NO_HITS = (_NO_DOCNOS, np.zeros(0))
_EMPTY_HITS = _GroupHits("score").frame(0, 0)


def make_kernel(
    specs: "list[QuerySpec]",
    f_specs: "list[tuple]" = (),
    *,
    k: int,
    mode: str,
    k1: float,
    b: float,
    avgdl: float,
    term_avgdl: dict,
    allow_qids: "set | frozenset" = frozenset(),
    per_query_allow: bool = False,
    after_score: float | None = None,
):
    """The per-(segment, shard) scoring kernel (U-5) of every BM25 read:
    ``kernel(pdf, mask_pdf)`` scores each spec against one group's
    posting rows and returns the local top-k of each as
    ``KERNEL_SCHEMA`` rows, all in one frame.

    ``pdf``: the group's rows of the fetched terms (``positions`` set
    only for phrase terms). Each list is decoded at most once per call
    and shared by every spec (``_group_postings``), then freed after
    the last spec that reads it. ``mask_pdf`` (or
    None): the group's mask rows, kind -1 denied docnos and kind 1
    allowed docnos — per query_id when ``per_query_allow``, else for
    every query. A query in ``allow_qids`` with no allow rows here
    matches nothing here. ``term_avgdl``: per-term avgdl of
    field-qualified terms (per-field length norm).

    ``f_specs``: BM25F specs ``(qid, words)``, per word ``(idf,
    [(field weight, field avgdl, term key), ...])``; a word's field tfs
    merge before the single saturation (``score_bm25f``), AND across
    words. ``after_score``: the cursor of ``search_index``'s ``after``
    paging (``score_group``)."""
    last_reads = _last_reads(
        [(*s.qidf, *s.nset) for s in specs]
        + [[key for _, fkeys in words for _, _, key in fkeys] for _, words in f_specs]
    )

    def kernel(pdf: pd.DataFrame, mask_pdf: pd.DataFrame | None) -> pd.DataFrame:
        if len(pdf) == 0:
            return _EMPTY_HITS
        seg = int(pdf["segment_id"].iloc[0])
        shard = int(pdf["shard"].iloc[0])
        deny = None
        allow_by_qid: dict = {}
        allow_all = _NO_DOCNOS
        if mask_pdf is not None and len(mask_pdf):
            d = mask_pdf.loc[mask_pdf["kind"] == -1, "docno"].to_numpy(np.int64)
            if d.size:
                deny = np.sort(d).astype(np.uint64)
            if allow_qids:
                al = mask_pdf.loc[mask_pdf["kind"] == 1]
                if per_query_allow:
                    for aq, grp in al.groupby("query_id"):
                        allow_by_qid[aq] = np.sort(
                            grp["docno"].to_numpy(np.int64)
                        ).astype(np.uint64)
                else:
                    allow_all = np.sort(
                        al["docno"].to_numpy(np.int64)
                    ).astype(np.uint64)

        def allow(qid):
            if qid not in allow_qids:
                return None
            return allow_by_qid.get(qid, _NO_DOCNOS) if per_query_allow else allow_all

        lists = _group_postings(pdf)

        def posting(t: str, idf: float, adl: float | None) -> TermPostings | None:
            pl = lists.get(t)
            return None if pl is None else TermPostings(t, idf, avgdl=adl, postings=pl)

        def score_spec(s):
            """(docnos, scores) of one spec's hits here."""
            flat = s.tree is None
            by_term = {}
            for t, idf in s.qidf.items():
                tp = posting(t, idf, term_avgdl.get(t))
                if tp is not None:
                    by_term[t] = tp
            if not by_term:
                return _NO_HITS
            phrase_tps = None
            if s.phrases:
                phrase_tps = [
                    [by_term[t] for t in ph]
                    if all(t in by_term for t in ph) else None
                    for ph in s.phrases
                ]
                # a required phrase with a term absent here matches nothing
                # here; under OR a dead phrase clause just never matches
                if (s.op == "AND" or not flat) and any(
                    p is None for p in phrase_tps
                ):
                    return _NO_HITS
            if flat and s.op == "AND":
                # required coverage here: every term (with synonym groups,
                # every group) must have a posting list in this group
                covered = (
                    len({g for t in by_term for g in s.groups[t]})
                    if s.groups is not None else len(by_term)
                )
                if covered < (s.n_groups if s.groups is not None else len(s.qidf)):
                    return _NO_HITS
            pos_tps = list(by_term.values())
            neg_tps = []
            for t in s.nset:
                tp = posting(t, 0.0, term_avgdl.get(t))
                if tp is None:
                    continue
                if flat:
                    neg_tps.append(tp)
                elif t not in by_term:
                    # tree NOT leaves are evaluated inside the tree
                    pos_tps.append(tp)
            return score_group(
                pos_tps, k=k, op=s.op, mode=mode, k1=k1, b=b, avgdl=avgdl,
                not_terms=neg_tps, allow_docnos=allow(s.qid), deny_docnos=deny,
                groups=(
                    [s.groups[t] for t in by_term] if s.groups is not None
                    else None
                ),
                n_groups=s.n_groups, msm=s.msm,
                phrase_tps=phrase_tps, phrase_slops=s.slops,
                tree=s.tree, tree_pos_terms=None if flat else set(s.qidf),
                phrase_only_terms=s.phrase_only, after_score=after_score,
            )

        def score_f_spec(qid, words):
            ws = []
            for idf, fkeys in words:
                ftps = [
                    (wgt, tp) for wgt, adl, key in fkeys
                    if (tp := posting(key, idf, adl)) is not None
                ]
                if not ftps:
                    return _NO_HITS  # AND: this word is absent from this group
                ws.append((idf, ftps))
            return score_bm25f(
                ws, k=k, k1=k1, b=b, avgdl=avgdl,
                deny_docnos=deny, allow_docnos=allow(qid),
            )

        hits = _GroupHits("score")
        for i, s in enumerate(specs):
            hits.add(s.qid, *score_spec(s))
            _drop(lists, last_reads[i])
        for i, (qid, words) in enumerate(f_specs, len(specs)):
            hits.add(qid, *score_f_spec(qid, words))
            _drop(lists, last_reads[i])
        return hits.frame(seg, shard)

    return kernel


def _group_apply(cand: DataFrame, masks: list, kernel, schema: str) -> DataFrame:
    """The Spark route's kernel call: ``kernel(pdf, mask_pdf)`` once per
    (segment_id, shard) group of ``cand``. With ``masks`` (frames keyed
    by segment_id, shard, docno) each group is cogrouped with its rows
    of their union — a column one frame lacks reads null there, and a
    group with no mask rows gets an empty frame; without, mask_pdf is
    None."""
    keys = ("segment_id", "shard")
    if not masks:
        def grouped(pdf: pd.DataFrame) -> pd.DataFrame:
            return kernel(pdf, None)

        return cand.groupBy(*keys).applyInPandas(grouped, schema)
    mask_df = masks[0]
    for m in masks[1:]:
        mask_df = mask_df.unionByName(m, allowMissingColumns=True)
    # a two-arg function: cogroup passes it (left, right)
    return (
        cand.groupBy(*keys)
        .cogroup(mask_df.groupBy(*keys))
        .applyInPandas(kernel, schema)
    )


def _denied_rows(spark: SparkSession, store) -> list:
    """The epoch's denied set as kernel mask rows (kind -1) — materialized
    once per index epoch (``IndexStore.denied_mask``); a tombstone
    written at segment N masks copies in segments < N only, the
    reference's per-segment DeleteIdSet (core:ir.index.DeleteIdSet [K]).
    A one-frame list, empty when nothing is denied."""
    denied = store.denied_mask(spark)
    if denied is None:
        return []
    return [
        denied.select("segment_id", "shard", "docno", F.lit(-1).alias("kind"))
    ]


def _with_doc_ids(
    spark: SparkSession, store, hits: DataFrame, broadcast: bool = True
) -> DataFrame:
    """Kernel hits joined to the docmap, which adds their doc_id. The
    hits are broadcast unless they are the full match set."""
    return (
        store.docmap(spark)
        .select("segment_id", "shard", "docno", "doc_id")
        .join(
            F.broadcast(hits) if broadcast else hits,
            ["segment_id", "shard", "docno"],
        )
    )


def _top_per_query(df: DataFrame, k: int, by: str = "score") -> DataFrame:
    """Per query_id the top k rows by (``by`` desc, doc_id asc), one
    window over a result-sized relation; ordered by query_id, then rank."""
    from pyspark.sql import Window as W

    rank = [F.desc(by), F.asc("doc_id")]
    rn = F.row_number().over(W.partitionBy("query_id").orderBy(*rank))
    return (
        df.withColumn("_rn", rn)
        .where(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("query_id", *rank)
    )


def _term_avgdl(terms: list[str], stats: dict) -> dict:
    """avgdl of each field-qualified term among ``terms``: such a term
    normalizes against its own field's avgdl (per-field BM25 length
    norm)."""
    by_field = stats.get("avgdl_by_field") or {}
    return {
        t: by_field[t.split(":", 1)[0]]
        for t in terms
        if ":" in t and t.split(":", 1)[0] in by_field
    }


def _score_shards(
    spark: SparkSession,
    store,
    cfg: EngineConfig,
    stats: dict,
    specs: "list[QuerySpec]",
    f_specs: "list[tuple]" = (),
    *,
    k: int,
    mode: str = "bmw",
    allow_doc_ids: DataFrame | None = None,
    apply_deletes: bool = True,
    after_score: float | None = None,
    local: bool = True,
):
    """Run the kernel (``make_kernel``) over every (segment, shard) group
    that holds a fetched term. Takes the driver route (module docstring)
    when ``local``, no ``allow_doc_ids`` frame is given and the index is
    small; returns ``(hits, docmap)`` there, pandas frames (hits None
    when nothing scored). Otherwise takes the Spark route and returns
    ``(hits, None)`` with hits a DataFrame. Hits are ``KERNEL_SCHEMA``
    rows, each group's local top-k per query.

    ``allow_doc_ids``: a doc_id frame restricting every query, or, with a
    query_id column, each row restricting only that query (the others
    stay unfiltered). ``cfg`` and ``stats``: the store's, read once by
    the caller."""
    fetch: set[str] = set()
    phrase_terms: set[str] = set()
    for s in specs:
        fetch.update(s.qidf)
        fetch.update(s.nset)
        phrase_terms.update(t for ph in s.phrases or () for t in ph)
    for _, words in f_specs:
        fetch.update(key for _, fkeys in words for _, _, key in fkeys)
    fetch = sorted(fetch)
    term_avgdl = _term_avgdl(fetch, stats)
    per_query_allow = (
        allow_doc_ids is not None and "query_id" in allow_doc_ids.columns
    )
    if per_query_allow:
        allow_qids = {
            r[0] for r in allow_doc_ids.select("query_id").distinct().collect()
        }
    elif allow_doc_ids is not None:
        allow_qids = {s.qid for s in specs} | {qid for qid, _ in f_specs}
    else:
        allow_qids = set()
    kernel = make_kernel(
        specs, f_specs, k=k, mode=mode, k1=cfg.k1, b=cfg.b,
        avgdl=stats["avgdl"], term_avgdl=term_avgdl, allow_qids=allow_qids,
        per_query_allow=per_query_allow, after_score=after_score,
    )
    # the positions sidecar column is read only when a phrase needs it
    # (column pruning = Lucene's .pos file split)
    cols = ["segment_id", "shard", "term", "postings"] + (
        ["positions"] if phrase_terms else []
    )
    view = (
        store.local_view(fetch, cols, apply_deletes)
        if local and allow_doc_ids is None
        else None
    )
    if view is not None:
        cand, denied, dm = view
        if phrase_terms:
            # as on the Spark route: positions only for phrase terms
            cand.loc[~cand["term"].isin(phrase_terms), "positions"] = None
        mask = denied.assign(kind=-1) if denied is not None and len(denied) else None
        return _run_local(kernel, cand, mask), dm

    postings = store.postings(spark)
    if phrase_terms and "positions" not in postings.columns:
        raise ValueError(
            "phrase query against an index without positions — rebuild with "
            "EngineConfig(store_positions=True)"
        )
    sel = [F.col(c) for c in cols[:4]]
    if phrase_terms:
        # other terms carry NULL so the shuffle stays postings-sized
        sel.append(
            F.when(
                F.col("term").isin(sorted(phrase_terms)), F.col("positions")
            ).alias("positions")
        )
    # an `isin` predicate pushed to Parquet (bloom filter on `term`), so
    # only the row groups holding query terms are read
    cand = postings.where(F.col("term").isin(fetch)).select(*sel)
    masks = _denied_rows(spark, store) if apply_deletes else []
    if allow_doc_ids is not None:
        qcol = ["query_id"] if per_query_allow else []
        masks.append(
            store.docmap(spark)
            .join(allow_doc_ids.select("doc_id", *qcol), "doc_id")
            .select(
                "segment_id", "shard", "docno", F.lit(1).alias("kind"),
                *(F.col(c).cast("string").alias(c) for c in qcol),
            )
        )
    return _group_apply(cand, masks, kernel, KERNEL_SCHEMA), None


def _wildcard_to_regex(pat: str) -> tuple[str, str]:
    """Wildcard pattern → (anchored-safe Java regex body, literal leading
    run usable as a pushed StartsWith bound). ``*`` spans any run, ``?``
    exactly one char; every other character is matched literally."""
    out: list[str] = []
    for ch in pat:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    lead = pat.split("*", 1)[0].split("?", 1)[0]
    return "".join(out), lead


def _regex_literal_prefix(rx: str) -> str:
    """Longest leading literal run of a regex usable as a pushed
    StartsWith bound on the sorted lexicon (conservative: stops at the
    first metacharacter, and surrenders the previous char when the
    metachar is a quantifier that makes it optional/repeatable)."""
    if "|" in rx:
        return ""  # top-level alternation may bypass any leading literal
    meta = set(".^$*+?{}[]|()\\")
    lead: list[str] = []
    for i, ch in enumerate(rx):
        if ch in meta:
            if ch in "*?{" and lead:
                lead.pop()  # quantifier binds the previous literal
            break
        lead.append(ch)
    return "".join(lead)


def expand_pattern(
    spark: SparkSession,
    store,
    ph: str,
    kind: str,
    cap: int,
    prefix_bound: bool = True,
) -> list[str]:
    """Expand a wildcard ("d?ta*") or regex ("/d.ta/") placeholder against
    the lexicon (Lucene MultiTermQuery rewrite): the pattern full-matches
    analyzed lexicon terms inside its field namespace. The scan is
    namespace-restricted and, when the pattern opens with a literal run,
    prefix-bounded by a pushed StartsWith on the sorted term column — at
    cluster scale it reads the same handful of row groups a prefix term
    does; a leading wildcard degrades to one full pass over the
    vocab-sized (≪ postings) lexicon, never postings. Ranked df desc /
    term asc, capped at ``cap``. ``prefix_bound=False`` disables the
    StartsWith bound (A/B harness: scripts/bench_wildcard_ab.py)."""
    if kind == "regex":
        m = _re.fullmatch(r"(?:([^:/]+):)?(/.+/)", ph)
        pref = f"{m.group(1)}:" if m.group(1) else ""
        rx = m.group(2)[1:-1]
        lead = _regex_literal_prefix(rx)
    else:
        pref, pat = (
            (ph.split(":", 1)[0] + ":", ph.split(":", 1)[1])
            if ":" in ph
            else ("", ph)
        )
        rx, lead = _wildcard_to_regex(pat)
        if lead and prefix_bound:
            # driver-side pruned range scan (no Spark job), same fast
            # path as prefix terms; the translated-wildcard regex
            # dialect is engine-identical in Python and the JVM
            got = store.pattern_df_arrow(
                pref, lead, _re.compile(rx).fullmatch, cap
            )
            if got is not None:
                return got
    lex = store.lexicon(spark)
    if pref:
        lex = lex.where(F.col("term").startswith(pref))
    else:
        lex = lex.where(~F.col("term").contains(":"))
    payload = F.expr(f"substring(term, {len(pref) + 1})")
    if lead and prefix_bound:
        lex = lex.where(F.col("term").startswith(pref + lead))
    try:
        rows = (
            lex.where(payload.rlike(f"^(?:{rx})$"))
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(cap)
            .collect()
        )
    except Exception as e:  # noqa: BLE001
        # supported dialect = the Python re (parse-time validation) ∩
        # Java regex (execution) common subset; a Python-only construct
        # (e.g. (?P<name>...)) surfaces here as a JVM PatternSyntax
        # error — turn it into the same clean ValueError a parse-time
        # rejection gives, not a raw py4j traceback
        if "PatternSyntax" in str(e):
            raise ValueError(
                f"regex term {ph!r} is not supported by the JVM regex "
                "engine (use the Python-re/Java-regex common subset)"
            ) from None
        raise
    return [r["term"] for r in rows]


def _parse_strings(queries: dict, cfg: EngineConfig) -> dict:
    """``queries`` with every query string parsed, all of them in one
    ``parse_query`` batch; other values pass through, in order."""
    texts = {qid: q for qid, q in queries.items() if isinstance(q, str)}
    return {**queries, **dict(zip(texts, parse_query(list(texts.values()), cfg)))}


def _expand_prefixes(
    spark: SparkSession, store, pq: ParsedQuery, cfg: EngineConfig
) -> ParsedQuery | None:
    """Expand prefix placeholders ("spar*", possibly field-qualified) into
    synonym-style groups against the lexicon (P-4 as a search clause; the
    reference's prefix filter applied to the term dictionary).

    The lexicon is tiny relative to postings and the scan is a pushed
    ``StartsWith`` over the sorted term column, so at cluster scale this
    reads a handful of row groups. Expansion is capped at
    ``cfg.max_prefix_expansion`` keeping highest-df terms (deterministic
    tie-break on term). Returns None when an AND-required prefix matches
    nothing (the whole query can't match)."""
    from fastcatsearch3_spark.plans.query import (
        _fuzzy_suffix,
        placeholder_kind,
    )

    placeholders = [
        t for t in pq.terms + pq.not_terms if placeholder_kind(t) is not None
    ]
    if not placeholders:
        return pq
    lexdf = None
    expansions: dict[str, list[str]] = {}
    for ph in placeholders:
        kind = placeholder_kind(ph)
        if kind in ("wildcard", "regex"):
            expansions[ph] = expand_pattern(
                spark, store, ph, kind, cfg.max_prefix_expansion
            )
            continue
        fz = _fuzzy_suffix(ph)
        if fz is not None:
            # fuzzy placeholder: lexicon terms within Levenshtein d of the
            # stem (exact term first at dist 0), ranked (dist asc, df
            # desc, term asc), capped. The candidate scan is length-banded
            # (|len−len(stem)| ≤ d is a Levenshtein lower bound) so the
            # JVM levenshtein() touches a sliver of the vocab-sized
            # lexicon; field-qualified stems restrict candidates to their
            # field namespace and measure distance on the payload
            # (Levenshtein is invariant under a shared prefix).
            stem, d = fz
            # SymSpell deletion-neighborhood artifact first (built via
            # operators.fuzzy.fuzzy_index_build, per index epoch):
            # O(stem deletions) probe instead of this vocab-sized scan;
            # identical verification + ranking, parity-tested. Falls
            # through to the scan when no current-epoch artifact exists.
            from fastcatsearch3_spark.operators.fuzzy import fuzzy_expand

            got_art = fuzzy_expand(
                spark, store, stem, d, cfg.max_prefix_expansion
            )
            if got_art is not None:
                expansions[ph] = got_art
                continue
            pref, base = (
                (stem.rsplit(":", 1)[0] + ":", stem.rsplit(":", 1)[1])
                if ":" in stem
                else ("", stem)
            )
            lex = store.lexicon(spark)
            if pref:
                lex = lex.where(F.col("term").startswith(pref))
            else:
                # unqualified stems must never expand into another field's
                # namespace: analyzer tokens cannot contain ':', so any
                # ':'-bearing lexicon key is a field-qualified term
                lex = lex.where(~F.col("term").contains(":"))
            payload = F.expr(f"substring(term, {len(pref) + 1})")
            ln = len(base)
            rows = (
                lex.where(
                    (F.length(payload) >= ln - d)
                    & (F.length(payload) <= ln + d)
                )
                .withColumn("dist", F.levenshtein(payload, F.lit(base)))
                .where(F.col("dist") <= d)
                .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
                .limit(cfg.max_prefix_expansion)
                .collect()
            )
            expansions[ph] = [r["term"] for r in rows]
            continue
        # driver-side range scan of the sorted lexicon parquet first (no
        # Spark job — see IndexStore.prefix_df_arrow); Spark fallback
        # keeps exotic filesystems working with identical ordering
        got = store.prefix_df_arrow(ph[:-1], cfg.max_prefix_expansion)
        if got is not None:
            expansions[ph] = [t for t, _ in got]
            continue
        if lexdf is None:
            lexdf = store.lexicon(spark)
        scan = lexdf.where(F.col("term").startswith(ph[:-1]))
        if ":" not in ph[:-1]:
            # unqualified prefixes must never expand into another
            # field's namespace (same rule as the fuzzy/wildcard paths
            # and prefix_df_arrow)
            scan = scan.where(~F.col("term").contains(":"))
        rows = (
            scan.select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(cfg.max_prefix_expansion)
            .collect()
        )
        expansions[ph] = [r["term"] for r in rows]
    if pq.tree is not None:
        # tree mode: a placeholder leaf becomes OR(expansions…) — or a
        # match-nothing node when the lexicon has no term under the prefix
        from fastcatsearch3_spark.plans.query import (
            Node,
            assert_positive,
            tree_terms,
        )

        def repl(n: Node) -> Node:
            if n.kind == "term" and placeholder_kind(n.term) is not None:
                reps = expansions.get(n.term, [])
                if not reps:
                    return Node("false")
                if len(reps) == 1:
                    return Node("term", term=reps[0])
                return Node(
                    "or", children=tuple(Node("term", term=r) for r in reps)
                )
            if n.children:
                return Node(
                    n.kind,
                    term=n.term,
                    children=tuple(repl(c) for c in n.children),
                    msm=n.msm,
                )
            return n

        root = repl(pq.tree)
        assert_positive(root)
        pos_terms, neg_terms = tree_terms(root)
        if not pos_terms:
            return None
        boosts = dict(pq.boosts or {})
        for ph, reps in expansions.items():
            if ph in boosts:
                for r in reps:
                    boosts[r] = max(boosts[ph], boosts.get(r, 0.0))
                del boosts[ph]
        return ParsedQuery(
            terms=pos_terms,
            not_terms=neg_terms,
            op="AND",
            tree=root,
            phrases=pq.phrases,
            phrase_slops=pq.phrase_slops,
            boosts=boosts,
        )
    groups = pq.groups or [(i,) for i in range(len(pq.terms))]
    new_terms: list[str] = []
    new_groups: list[tuple[int, ...]] = []
    seen: dict[str, int] = {}
    for t, gs in zip(pq.terms, groups):
        reps = expansions[t] if t in expansions else [t]
        if not reps and pq.op == "AND":
            return None
        for r in reps:
            if r in seen:
                prev = new_groups[seen[r]]
                merged = prev + tuple(g for g in gs if g not in prev)
                new_groups[seen[r]] = merged
            else:
                seen[r] = len(new_terms)
                new_terms.append(r)
                new_groups.append(tuple(gs))
    if not new_terms:
        return None
    boosts = dict(pq.boosts or {})
    for ph, reps in expansions.items():
        if ph in boosts:
            for r in reps:
                boosts[r] = max(boosts[ph], boosts.get(r, 0.0))
            del boosts[ph]
    return ParsedQuery(
        terms=new_terms,
        not_terms=pq.not_terms,
        op=pq.op,
        groups=new_groups,
        msm=pq.msm,
        phrases=pq.phrases,
        phrase_slops=pq.phrase_slops,
        boosts=boosts,
        phrase_only_terms=pq.phrase_only_terms,
    )


def explain_scores(
    spark: SparkSession,
    store,
    query: "str | ParsedQuery",
    k: int = 10,
    doc_ids: list[int] | None = None,
) -> DataFrame:
    """Score explain (Lucene ``IndexSearcher.explain``): per-(doc, term)
    BM25 partials for the query's top-k docs — columns (doc_id, term,
    tf, dl, df, idf, boost, partial), ordered (doc_id asc, partial desc,
    term asc). The invariant ``Σ partial over a doc's rows ==
    search_index score`` is pinned by test (NOT terms and gating
    constraints — groups/msm/phrases — affect WHICH docs rank, never a
    ranked doc's score, so partials always reconcile).

    Derivation is from the INDEX artifacts, not the corpus (that is the
    point of explain): the pushed-``In`` postings scan of the query's
    terms is blob-decoded with the compaction kernel, restricted to the
    target docs' (segment, shard, docno) rows via a broadcast-sized
    join, and joined with the global lexicon df — so the numbers shown
    are exactly the numbers the kernel scored with. Cost: the query
    terms' posting lists once, regardless of corpus size; the target-doc
    relation is k rows."""
    cfg = store.config()
    pq = parse_query(query, cfg) if isinstance(query, str) else query
    pq = _expand_prefixes(spark, store, pq, cfg)
    empty = local_frame(
        spark,
        "doc_id long, term string, tf bigint, dl bigint, df bigint,"
        " idf double, boost double, partial double",
    )
    if pq is None or not pq.terms:
        return empty
    stats = store.stats()
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    if n_docs == 0:
        return empty
    avgdl_by_field = stats.get("avgdl_by_field") or {}
    if doc_ids is None:
        doc_ids = [
            r["doc_id"]
            for r in search_index(spark, store, pq, k=k).collect()
        ]
    if not doc_ids:
        return empty
    boosts = pq.boosts or {}
    terms = list(dict.fromkeys(pq.terms))
    qmeta = spark.createDataFrame(
        [
            (
                t,
                float(boosts.get(t, 1.0)),
                float(
                    avgdl_by_field.get(t.split(":", 1)[0], avgdl)
                    if ":" in t
                    else avgdl
                ),
            )
            for t in terms
        ],
        "term string, boost double, adl double",
    )
    from fastcatsearch3_spark.streaming.incremental import (
        _DECODE_SCHEMA,
        _decode_iter,
    )

    targets = (
        store.docmap(spark)
        .where(F.col("doc_id").isin([int(d) for d in doc_ids]))
        .select("segment_id", "shard", "docno", "doc_id")
    )
    # Mirror search_index's apply_deletes path: after an upsert/delete the
    # docmap still carries the tombstoned older (segment, shard, docno)
    # copies of a doc_id; without the epoch denied mask those dead rows
    # would join the decoded postings and break the Σ partial == score
    # invariant exactly in the scenarios explain exists to debug.
    denied = store.denied_mask(spark)
    if denied is not None:
        targets = targets.join(
            denied.select("segment_id", "shard", "docno"),
            ["segment_id", "shard", "docno"],
            "left_anti",
        )
    entries = (
        store.postings(spark)
        .where(F.col("term").isin(terms))
        .select("segment_id", "shard", "term", "postings")
        .mapInPandas(_decode_iter, _DECODE_SCHEMA)
        .join(F.broadcast(targets), ["segment_id", "shard", "docno"])
    )
    lex = (
        store.lexicon(spark)
        .where(F.col("term").isin(terms))
        .select("term", "df")
    )
    k1, b = float(cfg.k1), float(cfg.b)
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (
        F.col("tf")
        * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("adl"))
        )
    )
    return (
        entries.join(F.broadcast(lex), "term")
        .join(F.broadcast(qmeta), "term")
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long"),
            F.col("dl").cast("long"),
            F.col("df").cast("long"),
            idf.alias("idf"),
            "boost",
            (idf * tf_norm * F.col("boost")).alias("partial"),
        )
        .orderBy(F.asc("doc_id"), F.desc("partial"), F.asc("term"))
    )


def suggest_terms(
    spark: SparkSession, store, prefix: str, k: int = 10
) -> DataFrame:
    """Autocomplete: top-k lexicon terms under ``prefix`` ranked by df
    (the reference's suggest/ac module re-expressed as a pruned lexicon
    scan — StartsWith pushdown on the sorted term column, so at cluster
    scale this touches a handful of row groups)."""
    return (
        store.lexicon(spark)
        .where(F.col("term").startswith(prefix))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def spell_suggest(
    spark: SparkSession,
    store,
    word: str,
    max_dist: int = 2,
    k: int = 10,
) -> DataFrame:
    """Did-you-mean: lexicon terms within Levenshtein ``max_dist`` of
    ``word``, ranked (distance asc, df desc, term asc) — the reference's
    spell/suggest correction re-expressed as a lexicon query.

    Scale shape: the candidate set is first narrowed by the pushed-down
    length band |len(term) − len(word)| ≤ max_dist (a Levenshtein lower
    bound), so the JVM-side levenshtein() runs on a sliver of the lexicon;
    the lexicon itself is ≪ postings (≈ vocabulary size) even at 100 TB."""
    ln = len(word)
    return (
        store.lexicon(spark)
        .where(
            (F.length("term") >= ln - max_dist)
            & (F.length("term") <= ln + max_dist)
        )
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(word)))
        .where((F.col("dist") <= max_dist) & (F.col("term") != word))
        .select(
            "term",
            F.col("dist").cast("long").alias("dist"),
            F.col("df").cast("long").alias("df"),
        )
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(k)
    )


def correct_query(
    spark: SparkSession,
    store,
    text: str,
    max_dist: int = 2,
) -> DataFrame:
    """Whole-query did-you-mean (the reference's spell correction over a
    full query string [M], beyond per-word ``spell_suggest``): every
    analyzed token gets its best lexicon correction — (dist asc, df
    desc, term asc); a token already in the lexicon corrects to itself
    at dist 0 — in ONE Spark job for the whole query: the token list is
    broadcast against the length-banded lexicon (|len(term) − len(token)|
    ≤ max_dist is a Levenshtein lower bound, so the JVM levenshtein runs
    on a sliver of the vocab-sized lexicon), one window picks the winner
    per position. Returns (pos, word, suggestion, dist, df) in query
    order; tokens with no candidate within ``max_dist`` are omitted."""
    from pyspark.sql import Window

    from fastcatsearch3_spark.functions.analyzer import tokenize_text

    cfg = store.config()
    toks = tokenize_text(text, cfg)
    if not toks:
        return local_frame(
            spark,
            "pos long, word string, suggestion string, dist long, df long",
        )
    qdf = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(toks)],
        "pos long, word string, wlen int",
    )
    lex = store.lexicon(spark).where(~F.col("term").contains(":"))
    cand = lex.join(
        F.broadcast(qdf),
        (F.length("term") >= F.col("wlen") - max_dist)
        & (F.length("term") <= F.col("wlen") + max_dist),
    ).withColumn("dist", F.levenshtein(F.col("term"), F.col("word")))
    w = Window.partitionBy("pos").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    )
    return (
        cand.where(F.col("dist") <= max_dist)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "pos",
            "word",
            F.col("term").alias("suggestion"),
            F.col("dist").cast("long").alias("dist"),
            F.col("df").cast("long").alias("df"),
        )
        .orderBy("pos")
    )


def search_sorted(
    spark: SparkSession,
    store,
    query: str | ParsedQuery,
    fields_df: DataFrame,
    sort_cols: list,
    k: int = 10,
    offset: int = 0,
) -> DataFrame:
    """Boolean match set ordered by STORED-FIELD keys instead of BM25
    (the reference's non-score sort, O-1 with a field key + O-2 paging).

    The match set comes from the distributed no-top-k path
    (``match_doc_ids`` — never collected), joins the stored-field
    projection, and the orderBy+limit compiles to TakeOrderedAndProject:
    each partition keeps offset+k rows, the driver merges — the same
    scatter-gather shape as the scored path."""
    ids = match_doc_ids(spark, store, query)
    return (
        fields_df.join(ids, "doc_id")
        .orderBy(*sort_cols)
        .offset(offset)
        .limit(k)
    )


def range_facet(
    df: DataFrame,
    col: str,
    width: int,
    lo: int = 0,
) -> DataFrame:
    """Range (histogram) facet: rows bucketed into fixed-width intervals
    [lo + i·width, lo + (i+1)·width) with per-bucket counts — the
    reference's range-facet variant of A-1. One hash aggregate with
    map-side combine; bucket count is value-range/width, independent of
    row count, so the result is always broadcast-small."""
    bucket = F.floor((F.col(col) - lo) / width).cast("long")
    return (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            (F.col("bucket") * width + lo).alias("range_lo"),
            (F.col("bucket") * width + lo + width).alias("range_hi"),
            "cnt",
        )
        .orderBy("range_lo")
    )


def more_like_this(
    spark: SparkSession,
    store,
    doc_id: int,
    corpus_df: DataFrame,
    m: int = 5,
    k: int = 10,
) -> DataFrame:
    """More-like-this: the ``m`` most distinctive terms of one document
    (tf·idf, ties → term asc) become an OR query; the source doc itself is
    excluded from the hits (Lucene MoreLikeThis over term vectors [M]).

    The seed doc's tokens are computed driver-side from its stored content
    (ONE row — the reference reads the same from its term-vector store);
    df comes from the lexicon via a pushed ``isin`` on just those terms.
    The search itself is the standard packed-index path."""
    from fastcatsearch3_spark.functions.analyzer import tokenize_text
    from fastcatsearch3_spark.plans.scoring import bm25_idf

    cfg = store.config()
    row = (
        corpus_df.where(F.col("doc_id") == doc_id)
        .select("content")
        .collect()
    )
    if not row:
        return local_frame(spark, HITS_SCHEMA)
    toks = tokenize_text(row[0]["content"], cfg)
    tf: dict[str, int] = {}
    for t in toks:
        tf[t] = tf.get(t, 0) + 1
    stats = store.stats()
    n_docs = stats["n_docs"]
    lex = (
        store.lexicon(spark)
        .where(F.col("term").isin(list(tf)))
        .select("term", "df")
        .collect()
    )
    scored = sorted(
        (
            (-tf[r["term"]] * bm25_idf(n_docs, r["df"]), r["term"])
            for r in lex
        ),
    )[:m]
    terms = [t for _, t in scored]
    if not terms:
        return local_frame(spark, HITS_SCHEMA)
    pq = ParsedQuery(terms=terms, op="OR")
    hits = search_index(spark, store, pq, k=k + 1, mode="taat")
    return (
        hits.where(F.col("doc_id") != doc_id)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def related_keywords(
    spark: SparkSession,
    store,
    query: str | ParsedQuery,
    fields_df: DataFrame,
    top_n: int = 10,
    min_fg_df: int = 2,
    content_col: str = "content",
) -> DataFrame:
    """Related search keywords / significant terms: terms whose document
    frequency inside the query's MATCH SET is disproportionate to their
    corpus background frequency (the reference's related-keyword service
    beside its popular-keyword statistics; Lucene/ES significant-terms
    aggregation [M]).

    Pipeline — all distributed, nothing collected:
    ``match_doc_ids`` (boolean match, no top-k) → join with the stored
    content so ONLY matched docs are re-analyzed (the reference reads
    its term-vector store; same cost shape — |match| docs, not the
    corpus) → per-term foreground df in one hash aggregate (map-side
    combined) → equi-join against the published lexicon artifact for
    the background df (vocab-sized, no corpus pass) → the one-row
    match-set count broadcast by a cross join → score

        score = (fg_df / m) · ln(fg_df · N / (m · bg_df))

    i.e. foreground coverage × log-lift (PMI): terms must be both
    common in the result set and rarer in the corpus. The query's own
    analyzed terms — including the lexicon expansions of any prefix /
    wildcard / fuzzy placeholders, which are the terms that actually
    drove the match set — and noise terms (fg_df < ``min_fg_df``) are
    excluded; lift ≤ 1 (score ≤ 0) never surfaces; ties break term asc
    for a deterministic, paginatable order.

    At 100 TB the only per-corpus input is the lexicon (an artifact,
    already partitioned); everything else scales with the match set.
    """
    from fastcatsearch3_spark.functions.analyzer import tokenize_udf

    cfg = store.config()
    pq = parse_query(query, cfg) if isinstance(query, str) else query
    if pq is None or not pq.terms:
        return local_frame(
            spark, "term string, fg_df long, bg_df long, score double"
        )
    # expand prefix/wildcard/fuzzy placeholders BEFORE computing the
    # exclusion set: the lexicon-expanded terms are the ones that drove
    # the match set, and surfacing them as top "related" keywords would
    # just echo the query back (they trivially dominate foreground df)
    pq = _expand_prefixes(spark, store, pq, cfg)
    if pq is None:  # an AND-required placeholder matched nothing
        return local_frame(
            spark, "term string, fg_df long, bg_df long, score double"
        )
    qterms = list(
        dict.fromkeys(
            t.split(":", 1)[1] if ":" in t else t for t in pq.terms
        )
    )
    ids = match_doc_ids(spark, store, pq)
    # per-doc dedupe happens BEFORE the explode via array_distinct (a
    # narrow map — no shuffle), so the only exchange is the per-term
    # count's map-side-combined aggregate; a row-level distinct here
    # would cost a second, wider shuffle on (doc_id, term)
    fg = (
        fields_df.join(ids, "doc_id")
        .select(
            F.explode(
                F.array_distinct(tokenize_udf(cfg)(F.col(content_col)))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("fg_df"))
    )
    m_df = ids.agg(F.count("*").cast("long").alias("m"))
    n_docs = int(store.stats()["n_docs"])
    lex = store.lexicon(spark).select(
        "term", F.col("df").cast("long").alias("bg_df")
    )
    return (
        fg.join(lex, "term")
        .crossJoin(F.broadcast(m_df))
        .where(~F.col("term").isin(qterms))
        .where(F.col("fg_df") >= int(min_fg_df))
        .withColumn(
            "score",
            (F.col("fg_df") / F.col("m"))
            * F.log(
                F.col("fg_df")
                * F.lit(float(n_docs))
                / (F.col("m") * F.col("bg_df"))
            ),
        )
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(top_n)
        .select("term", "fg_df", "bg_df", "score")
    )


def rescore_topk(
    spark: SparkSession,
    store,
    query: str | ParsedQuery,
    rescore_query: str | ParsedQuery,
    k: int = 10,
    window: int = 100,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
) -> DataFrame:
    """Two-phase ranking (Lucene QueryRescorer / ES rescore): a cheap
    recall-oriented first pass picks the top-``window`` docs by BM25,
    then only THAT window is re-scored with a more expensive secondary
    query (typically an exact phrase or proximity query over the
    positions sidecar):

        final = query_weight · first + rescore_weight · second

    Docs in the window that don't match the rescore query keep their
    first-pass contribution (second = 0) — ES's ``score_mode: total``
    default. The top-k of the re-ordered window is returned
    (``k ≤ window`` required; output: doc_id, first_score, rescore,
    score ordered by score desc, doc_id asc).

    One query of ``rescore_many``, which has the plan: the second pass
    scores only window docs, with GLOBAL df/avgdl stats, so a window
    doc's second score equals its unrestricted score for the rescore
    query."""
    return rescore_many(
        spark, store, {"": (query, rescore_query)}, k=k, window=window,
        query_weight=query_weight, rescore_weight=rescore_weight,
    ).drop("query_id")


def function_score(
    spark: SparkSession,
    store,
    query: str | ParsedQuery,
    fields_df: DataFrame,
    factor_col: str,
    k: int = 10,
    modifier: str = "ln1p",
    weight: float = 1.0,
    boost_mode: str = "multiply",
    origin: float | None = None,
    scale: float | None = None,
    missing: float | None = None,
) -> DataFrame:
    """Static-field relevance boost (ES function_score; Lucene
    FunctionScoreQuery): a stored numeric field — recency, popularity,
    document length, pagerank — reshapes the BM25 ranking:

        factor = weight · modifier(field)
        final  = bm25 ⊙ factor                 (multiply | sum)

    ``modifier`` covers both function_score families:

      * field_value_factor — ``ln1p`` | ``sqrt`` | ``none`` of the raw
        value;
      * decay around ``origin`` (requires ``origin`` + ``scale``; the
        factor halves at distance ``scale``, ES's decay=0.5 default) —
        ``gauss``  exp(−ln2·(|x−origin|/scale)²),
        ``exp``    exp(−ln2·|x−origin|/scale),
        ``linear`` max(0, 1 − |x−origin|/(2·scale)).

    A doc-dependent factor breaks top-k early termination (a low-BM25
    doc may win after boosting), so the plan scores EVERY matching doc
    (``_return_all`` — distributed, never collected), joins the factor
    field by doc_id (column-pruned scan of one numeric column), and
    takes the global top-k — orderBy+limit compiles to
    TakeOrderedAndProject: each partition keeps k rows, the driver
    merges. Cost tracks the match set, the factor read is one pruned
    column. Output: (doc_id, score, factor, final) by (final desc,
    doc_id asc).

    Missing / malformed field policy (the join is a LEFT join — a
    matching doc is never silently dropped because its factor row is
    absent): when a doc has no ``fields_df`` row or a null field value,
    ``missing`` (if given) substitutes the raw field value through the
    modifier, ES ``field_value_factor.missing``; otherwise the factor
    falls back to the ⊙-neutral element (1 for multiply, 0 for sum) so
    the doc keeps its plain BM25 score. Negative raw values are clamped
    to 0 before ``sqrt``/``ln1p`` (ES fails the whole query on such a
    row; at cluster scale one bad row must not kill the search), so
    finals are always finite and the ordering total."""
    import math

    decay_mods = ("gauss", "exp", "linear")
    if modifier not in ("ln1p", "sqrt", "none") + decay_mods:
        raise ValueError(
            "modifier must be 'ln1p', 'sqrt', 'none', "
            "'gauss', 'exp' or 'linear'"
        )
    if modifier in decay_mods and (origin is None or not scale):
        raise ValueError(f"modifier {modifier!r} requires origin and scale")
    if boost_mode not in ("multiply", "sum"):
        raise ValueError("boost_mode must be 'multiply' or 'sum'")
    hits = search_index(spark, store, query, _return_all=True)
    # the modifier is evaluated AFTER the left join so that `missing`
    # covers both null field values and wholly absent fields_df rows
    fields = fields_df.select(
        "doc_id", F.col(factor_col).cast("double").alias("_raw")
    )
    # NaN is NOT null in Spark: it passes coalesce and sorts ABOVE every
    # real value under desc — normalize it to null so the missing-value
    # policy (and the NaN-free finals guarantee) covers it too
    raw = F.when(F.isnan(F.col("_raw")), F.lit(None)).otherwise(
        F.col("_raw")
    )
    if missing is not None:
        raw = F.coalesce(raw, F.lit(float(missing)))
    if modifier in decay_mods:
        dist = F.abs(raw - F.lit(float(origin))) / F.lit(float(scale))
        fx = {
            "gauss": F.exp(F.lit(-math.log(2.0)) * dist * dist),
            "exp": F.exp(F.lit(-math.log(2.0)) * dist),
            "linear": F.greatest(
                F.lit(0.0), F.lit(1.0) - dist / F.lit(2.0)
            ),
        }[modifier] * F.lit(float(weight))
    else:
        # clamp negatives so sqrt/ln1p never emit NaN into the sort key
        # (when/otherwise, NOT greatest — greatest(null, 0) is 0 and would
        # swallow the null that marks a missing row for the neutral fill)
        nonneg = F.when(raw < 0, F.lit(0.0)).otherwise(raw)
        fx = {
            "ln1p": F.log(F.lit(1.0) + nonneg),
            "sqrt": F.sqrt(nonneg),
            "none": raw,
        }[modifier] * F.lit(float(weight))
    neutral = 1.0 if boost_mode == "multiply" else 0.0
    factor = F.coalesce(fx, F.lit(neutral))
    combined = (
        F.col("score") * factor
        if boost_mode == "multiply"
        else F.col("score") + factor
    )
    return (
        hits.join(fields, "doc_id", "left")
        .select(
            "doc_id", "score", factor.alias("factor"),
            combined.alias("final"),
        )
        .orderBy(F.desc("final"), F.asc("doc_id"))
        .limit(k)
    )


def build_factor_artifact(
    spark: SparkSession,
    store,
    fields_df: DataFrame,
    factor_col: str,
    name: str,
    modifier: str = "ln1p",
    weight: float = 1.0,
    missing: float | None = None,
) -> dict:
    """Materialize a STATIC per-doc rank factor as an index-side artifact
    (ES's doc-value field feeding function_score; the r4 verdict's
    "per-block max-factor beside block-max tf" realized as a shard-local
    factor sidecar): (segment_id, shard, docno, factor) parquet under
    ``.factors/<name>``, docno-sorted within each (segment, shard)
    partition so the kernel's dense-array fill is a sequential scatter.

    The modifier/weight are folded in AT BUILD (only static modifiers —
    ln1p/sqrt/none; decay depends on a query-time origin and stays on the
    full-eval path), with ``function_score``'s missing-value policy:
    every docmap doc is left-joined to ``fields_df``, and ``missing``
    (if given) stands in for a null, NaN or absent raw value; a doc
    still without a value has no row and gets the boost-mode-neutral
    factor at query time. Factor-combined MaxScore pruning is sound only
    for factors ≥ 0 (score monotone in accumulated BM25), so a factor
    that would be negative — ``weight < 0``, or ``modifier='none'`` with
    a negative value or ``missing`` — raises ValueError; such factors
    need ``function_score``.

    The artifact records the index epoch; ``function_score_topk`` refuses
    a stale artifact (same pattern as the ``.denied`` epoch masks). Cost:
    one docmap join + one partitioned write — corpus-scale but build-time,
    amortized over every subsequent query."""
    import json as _json
    import shutil
    from pathlib import Path

    if modifier not in ("ln1p", "sqrt", "none"):
        raise ValueError(
            "factor artifacts support static modifiers ln1p/sqrt/none; "
            "decay modifiers are query-relative — use function_score"
        )
    negative = (
        "factor artifacts hold factors >= 0 (the pruning bound needs "
        "them); use function_score for negative factors"
    )
    if weight < 0 or (modifier == "none" and missing is not None and missing < 0):
        raise ValueError(f"{negative}: weight={weight}, missing={missing}")
    raw0 = F.col("_raw")
    # NaN → null (NaN is not null in Spark and would poison the kernel's
    # factor array and the pruning bound); nulls then follow the
    # missing-value policy / drop to the neutral fill
    raw = F.when(F.isnan(raw0), F.lit(None)).otherwise(raw0)
    if missing is not None:
        raw = F.coalesce(raw, F.lit(float(missing)))
    # ln1p/sqrt clamp negative raw values to 0, as function_score does
    nonneg = F.when(raw < 0, F.lit(0.0)).otherwise(raw)
    fx = {
        "ln1p": F.log(F.lit(1.0) + nonneg),
        "sqrt": F.sqrt(nonneg),
        "none": raw,
    }[modifier] * F.lit(float(weight))
    rows = (
        store.docmap(spark)
        .select("segment_id", "shard", "docno", "doc_id")
        .join(
            fields_df.select(
                "doc_id", F.col(factor_col).cast("double").alias("_raw")
            ),
            "doc_id",
            "left",
        )
        .select("segment_id", "shard", "docno", fx.alias("factor"))
        .where(F.col("factor").isNotNull())
    )
    if modifier == "none" and rows.where(F.col("factor") < 0).limit(1).count():
        raise ValueError(f"{negative}: column {factor_col!r} has negative values")
    rows = rows.repartition("segment_id", "shard").sortWithinPartitions(
        "segment_id", "shard", "docno"
    )
    root = Path(store._p(".factors", name))
    tmp = root.with_name(root.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    rows.write.mode("overwrite").parquet(str(tmp / "rows"))
    meta = {
        "name": name,
        "modifier": modifier,
        "weight": float(weight),
        "missing": missing,
        "epoch": store.epoch(),
    }
    (tmp / "meta.json").write_text(_json.dumps(meta))
    shutil.rmtree(root, ignore_errors=True)
    tmp.rename(root)
    return meta


def function_score_topk(
    spark: SparkSession,
    store,
    query: str | ParsedQuery,
    factor_name: str,
    k: int = 10,
    boost_mode: str = "multiply",
) -> DataFrame:
    """function_score with EARLY TERMINATION for static stored factors
    (VERDICT r04 next-round #4): instead of scoring the full match set
    (``function_score``'s ``_return_all``, correct but ~corpus-sized for
    a hot term at 100×), the factor artifact built by
    ``build_factor_artifact`` rides into the scoring kernel, where the
    MaxScore top-k threshold θ lives on the FINAL (factor-combined)
    score — so low-factor docs prune exactly like low-BM25 docs, and hot
    terms stop being decoded in full once the remaining upper bound ×
    max-factor falls below θ (scoring._score_or_maxscore_factored has the
    safety argument; parity with the full-eval path is pinned by test,
    including crafted low-BM25/high-factor rank flips).

    Scope: flat AND/OR queries (incl. NOT terms and caret boosts). The
    general forms — trees, phrases, msm, synonym groups, decay
    modifiers — fall back to ``function_score`` (raises here). Output:
    (doc_id, score, factor, final) by (final desc, doc_id asc), same
    columns as function_score; ``score`` is the plain BM25 part. One
    query of ``function_score_many``, which has the plan."""
    return function_score_many(
        spark, store, {"": query}, factor_name, k=k, boost_mode=boost_mode
    ).drop("query_id")


def rescore_many(
    spark: SparkSession,
    store,
    queries: "dict[str, tuple[str | ParsedQuery, str | ParsedQuery]]",
    k: int = 10,
    window: int = 100,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
) -> DataFrame:
    """Two-phase ranking (``rescore_topk``) for N queries at once
    (VERDICT r04 next-round #7). ``queries`` maps query_id →
    (first_pass_query, rescore_query). N queries cost TWO batch kernel
    passes total instead of 2·N single-query passes:

      * phase 1 — ONE ``search_many`` pass scores every first-pass query
        (k=window) against one shared postings scan;
      * phase 2 — ONE ``search_many`` pass scores every rescore query,
        each restricted to ITS OWN window through the per-query allow
        mask (allow_doc_ids with a query_id column, a docmap join to
        per-shard docnos), so the second pass decodes only the union of
        rescore terms and scores only window docs — cost tracks the
        windows and the rescore terms, never the corpus.

    Window docs not matching the rescore query keep second = 0 (ES
    score_mode: total); rescore scores use GLOBAL df/avgdl stats. The
    final blend is a broadcast-sized join (≤ N·window rows). Output:
    (query_id, doc_id, first_score, rescore, score), per-query
    (score desc, doc_id asc) top-k."""
    if k > window:
        raise ValueError("k must be <= window")
    empty = local_frame(
        spark,
        "query_id string, doc_id long, first_score double,"
        " rescore double, score double",
    )
    if not queries:
        return empty
    first = search_many(
        spark, store, {qid: q for qid, (q, _) in queries.items()}, k=window
    )
    # the window relation is needed twice (phase-2 allow mask + blend) and
    # is result-sized (≤ N·window rows) — pin it to the driver once;
    # leaving it lazy would re-run the first pass for each use
    win_rows = first.collect()
    if not win_rows:
        return empty
    win = local_frame(spark, BATCH_HITS_SCHEMA, win_rows)
    second = search_many(
        spark,
        store,
        {qid: rq for qid, (_, rq) in queries.items()},
        k=window,
        allow_doc_ids=win.select("query_id", "doc_id"),
    ).withColumnRenamed("score", "rescore")
    sec = F.coalesce(F.col("rescore"), F.lit(0.0))
    blended = win.join(
        F.broadcast(second), ["query_id", "doc_id"], "left"
    ).select(
        "query_id",
        "doc_id",
        F.col("score").alias("first_score"),
        sec.alias("rescore"),
        (
            F.lit(float(query_weight)) * F.col("score")
            + F.lit(float(rescore_weight)) * sec
        ).alias("score"),
    )
    return _top_per_query(blended, k)


FS_KERNEL_SCHEMA = (
    "query_id string, segment_id int, shard int, docno bigint,"
    " score double, factor double, final double"
)
_FS_COLS = ("score", "factor", "final")


def function_score_many(
    spark: SparkSession,
    store,
    queries: "dict[str, str | ParsedQuery]",
    factor_name: str,
    k: int = 10,
    boost_mode: str = "multiply",
) -> DataFrame:
    """function_score with early termination for N queries (VERDICT r04
    next-round #7) against ONE factor artifact: they share one postings
    scan (pushed ``In`` over the union of terms), one factor cogroup,
    and one kernel pass; each (segment, shard) group loads its dense
    factor array and its posting lists (``_group_postings``) ONCE and
    runs the factor-aware MaxScore
    (``scoring.score_group_factored``) per ``query_spec``.

    Scope per query matches function_score_topk: flat AND/OR with NOT
    terms and caret boosts (trees/phrases/msm/groups raise). Output:
    (query_id, doc_id, score, factor, final), per-query (final desc,
    doc_id asc) top-k."""
    import json as _json
    from pathlib import Path

    if boost_mode not in ("multiply", "sum"):
        raise ValueError("boost_mode must be 'multiply' or 'sum'")
    empty = local_frame(
        spark,
        "query_id string, doc_id long, score double,"
        " factor double, final double",
    )
    if not queries:
        return empty
    cfg = store.config()
    root = Path(store._p(".factors", factor_name))
    meta = _json.loads((root / "meta.json").read_text())
    if meta["epoch"] != store.epoch():
        raise RuntimeError(
            f"factor artifact {factor_name!r} is stale (index epoch "
            "changed since build) — rebuild with build_factor_artifact"
        )
    stats = store.stats()
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    if n_docs == 0:
        return empty

    parsed: dict[str, ParsedQuery] = {}
    for qid, pq in _parse_strings(queries, cfg).items():
        pq = _expand_prefixes(spark, store, pq, cfg)
        if pq is None:
            continue
        if (
            pq.tree is not None
            or pq.phrases
            or pq.msm is not None
            or pq.groups is not None
        ):
            where = f"query {qid!r}: " if qid else ""
            raise ValueError(
                f"{where}factor artifacts serve flat AND/OR queries; use"
                " function_score for trees/phrases/msm/synonym groups"
            )
        parsed[qid] = pq
    dfmap = store.df_for_terms(
        spark, sorted({t for pq in parsed.values() for t in pq.terms + pq.not_terms})
    )
    specs = [
        s for qid, pq in parsed.items()
        if (s := query_spec(qid, pq, dfmap, n_docs)) is not None
    ]
    if not specs:
        return empty
    fetch = sorted({t for s in specs for t in (*s.qidf, *s.nset)})
    last_reads = _last_reads([(*s.qidf, *s.nset) for s in specs])
    term_avgdl = _term_avgdl(fetch, stats)
    k1, b = cfg.k1, cfg.b
    neutral = 1.0 if boost_mode == "multiply" else 0.0

    def kernel(pdf: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # right: the group's factor rows (kind 2) and denied docnos (kind -1)
        if len(pdf) == 0:
            return _GroupHits(*_FS_COLS).frame(0, 0)
        seg = int(pdf["segment_id"].iloc[0])
        shard = int(pdf["shard"].iloc[0])
        fr = right[right["kind"] == 2]
        fac_dn = fr["docno"].to_numpy(np.int64)
        d = right.loc[right["kind"] == -1, "docno"].to_numpy(np.int64)
        deny = np.sort(d).astype(np.uint64) if d.size else None
        factors = np.full(
            int(fac_dn.max()) + 1 if fac_dn.size else 0, neutral, np.float64
        )
        factors[fac_dn] = fr["factor"].to_numpy(np.float64)
        lists = _group_postings(pdf)

        def postings(terms: dict) -> list[TermPostings]:
            return [
                TermPostings(t, idf, avgdl=term_avgdl.get(t), postings=lists[t])
                for t, idf in terms.items() if t in lists
            ]

        hits = _GroupHits(*_FS_COLS)
        for s, done in zip(specs, last_reads):
            pos_tps = postings(s.qidf)
            # AND needs every term here
            if pos_tps and (s.op != "AND" or len(pos_tps) == len(s.qidf)):
                hits.add(s.qid, *score_group_factored(
                    pos_tps, k=k, op=s.op, k1=k1, b=b, avgdl=avgdl,
                    factors=factors, boost_mode=boost_mode,
                    not_terms=postings(dict.fromkeys(s.nset, 0.0)),
                    deny_docnos=deny,
                ))
            _drop(lists, done)
        return hits.frame(seg, shard)

    cand = (
        store.postings(spark)
        .where(F.col("term").isin(fetch))
        .select("segment_id", "shard", "term", "postings")
    )
    factor_rows = spark.read.parquet(str(root / "rows")).select(
        "segment_id", "shard", "docno", "factor", F.lit(2).alias("kind")
    )
    hits = _group_apply(
        cand, [factor_rows, *_denied_rows(spark, store)], kernel,
        FS_KERNEL_SCHEMA,
    )
    return _top_per_query(
        _with_doc_ids(spark, store, hits).select(
            "query_id", "doc_id", "score", "factor", "final"
        ),
        k,
        by="final",
    )


_MATCH_SCHEMA = "segment_id int, shard int, docno bigint, gid int, neg int"


def _make_match_kernel(
    term_gids: dict[str, tuple[int, ...]], neg_terms: set[str]
):
    """mapInPandas kernel: packed posting rows → (docno, group-id) match
    entries (no scoring), one batched decode per pandas batch.
    Negative-term entries carry neg=1."""

    def decode_batches(batches):
        for pdf in batches:
            # (row, gid, neg) per emitted copy of a row's entries
            emits = [
                (i, g, neg)
                for i, term in enumerate(pdf["term"])
                for g, neg in (
                    [(-1, 1)] if term in neg_terms
                    else [(g, 0) for g in term_gids.get(term, ())]
                )
            ]
            if not emits:
                continue
            row, d, _, _ = decode_postings_many(pdf["postings"].tolist())
            n = np.bincount(row, minlength=len(pdf))
            e_row, e_gid, e_neg = (np.array(c) for c in zip(*emits))
            cnt = n[e_row]
            take = ragged_ranges((np.cumsum(n) - n)[e_row], cnt)
            yield pd.DataFrame(
                {
                    "segment_id": np.repeat(
                        pdf["segment_id"].to_numpy(np.int32)[e_row], cnt
                    ),
                    "shard": np.repeat(pdf["shard"].to_numpy(np.int32)[e_row], cnt),
                    "docno": d[take].astype(np.int64),
                    "gid": np.repeat(e_gid.astype(np.int32), cnt),
                    "neg": np.repeat(e_neg.astype(np.int32), cnt),
                }
            )

    return decode_batches


def match_doc_ids(
    spark: SparkSession,
    store,  # fastcatsearch3_spark.index.IndexStore
    query: str | ParsedQuery,
    apply_deletes: bool = True,
) -> DataFrame:
    """ALL doc_ids matching the boolean query — no ranking, no top-k.

    This is the match-set feeder for facets computed over search results
    (the reference's group-by/facet on the result set, A-1..A-3 applied
    after Q-3/Q-4 [K]) and for bulk exports. Unlike ``search_index`` it
    never collects hits to the driver: postings scan (isin pushdown) →
    vectorized decode → distributed group-coverage aggregate → docmap
    join, so a match set of any size stays an executor-side DataFrame.
    """
    cfg = store.config()
    pq = parse_query(query, cfg) if isinstance(query, str) else query
    pq = _expand_prefixes(spark, store, pq, cfg)
    empty = local_frame(spark, "doc_id long")
    if pq is None or not pq.terms:
        return empty
    if pq.phrases:
        raise ValueError("use search_index for phrase queries")
    if pq.tree is not None:
        # nested boolean: decode each leaf term's postings to (docno,
        # leaf-id) rows, pivot to per-doc leaf flags (one aggregate), and
        # evaluate the tree as a Catalyst boolean Column over the flags —
        # the whole gate stays declarative/distributed, NOT nodes
        # included (no left_anti chain needed)
        term_gids: dict[str, tuple[int, ...]] = {}
        next_id = [0]

        def build(n):
            if n.kind == "term":
                i = next_id[0]
                next_id[0] += 1
                term_gids[n.term] = term_gids.get(n.term, ()) + (i,)
                return F.col(f"g{i}") == 1
            if n.kind == "false":
                return F.lit(False)
            if n.kind == "not":
                return ~build(n.children[0])
            exprs = [build(c) for c in n.children]
            if n.kind == "and":
                out = exprs[0]
                for e in exprs[1:]:
                    out = out & e
                return out
            need = n.msm if n.msm is not None else 1
            if need == 1:
                out = exprs[0]
                for e in exprs[1:]:
                    out = out | e
                return out
            cnt = F.when(exprs[0], 1).otherwise(0)
            for e in exprs[1:]:
                cnt = cnt + F.when(e, 1).otherwise(0)
            return cnt >= need

        gate = build(pq.tree)
        n_leaves = next_id[0]
        rows = (
            store.postings(spark)
            .where(F.col("term").isin(list(term_gids)))
            .select("segment_id", "shard", "term", "postings")
            .mapInPandas(
                _make_match_kernel(term_gids, set()), _MATCH_SCHEMA
            )
        )
        flags = rows.groupBy("segment_id", "shard", "docno").agg(
            *[
                F.max(F.when(F.col("gid") == i, 1).otherwise(0)).alias(
                    f"g{i}"
                )
                for i in range(n_leaves)
            ]
        )
        matched = flags.where(gate).select("segment_id", "shard", "docno")
    else:
        groups = pq.groups or [(i,) for i in range(len(pq.terms))]
        term_gids = dict(zip(pq.terms, groups))
        if pq.op == "AND":
            required = pq.n_groups
        else:
            required = pq.msm if pq.msm is not None else 1
        fetch = list(dict.fromkeys(pq.terms + pq.not_terms))
        rows = (
            store.postings(spark)
            .where(F.col("term").isin(fetch))
            .select("segment_id", "shard", "term", "postings")
            .mapInPandas(
                _make_match_kernel(term_gids, set(pq.not_terms)), _MATCH_SCHEMA
            )
        )
        pos = rows.where(F.col("neg") == 0)
        matched = (
            pos.groupBy("segment_id", "shard", "docno")
            .agg(F.countDistinct("gid").alias("ng"))
            .where(F.col("ng") >= required)
            .select("segment_id", "shard", "docno")
        )
        if pq.not_terms:
            negd = rows.where(F.col("neg") == 1).select(
                "segment_id", "shard", "docno"
            )
            matched = matched.join(
                negd, ["segment_id", "shard", "docno"], "left_anti"
            )
    if apply_deletes:
        denied = store.denied_mask(spark)
        if denied is not None:
            matched = matched.join(
                denied.select("segment_id", "shard", "docno"),
                ["segment_id", "shard", "docno"],
                "left_anti",
            )
    return matched.join(
        store.docmap(spark).select("segment_id", "shard", "docno", "doc_id"),
        ["segment_id", "shard", "docno"],
    ).select("doc_id")


def search_index(
    spark: SparkSession,
    store,  # fastcatsearch3_spark.index.IndexStore
    query: str | ParsedQuery,
    k: int = 10,
    mode: str = "bmw",
    allow_doc_ids: DataFrame | None = None,
    apply_deletes: bool = True,
    hydrate: bool = False,
    corpus_df: DataFrame | None = None,
    offset: int = 0,
    after: "tuple[float, int] | None" = None,
    _return_all: bool = False,
) -> DataFrame:
    """Top-k BM25 search. Returns (doc_id, score) ordered by
    (score desc, doc_id asc); with ``hydrate``, stored corpus fields too.
    ``offset`` pages past the first N results (the reference's sn/ln
    paging, O-2): each shard kernel keeps offset+k local hits so the
    global merge can skip offset rows exactly.

    ``after`` (cursor pagination — Lucene searchAfter / ES search_after):
    pass the LAST hit of the previous page as ``(score, doc_id)`` and
    get the next k results strictly after it in (score desc, doc_id asc)
    order. Unlike ``offset``, each shard ships k + #exact-score-ties
    rows no matter how deep the page — the scale path for deep paging
    (offset ships offset+k rows per shard). Exact: pages concatenate to
    the single-query ranking (pinned by test). Mutually exclusive with
    ``offset``; the cursor score must be passed back unmodified (float64
    equality anchors the tie handling).

    ``_return_all`` (internal, for collapse/grouping): score EVERY
    matching doc and return the distributed unordered (doc_id, score)
    relation — no top-k truncation, no driver collect.

    The query is a batch of one: ``query_spec`` and the shared kernel
    score it; paging, ``_return_all`` and the docmap pushdown below are
    this function's own tail."""
    cfg = store.config()
    if after is not None:
        if offset:
            raise ValueError("after and offset are mutually exclusive")
        if _return_all:
            raise ValueError("after does not apply to _return_all")
    pq = parse_query(query, cfg) if isinstance(query, str) else query
    pq = _expand_prefixes(spark, store, pq, cfg)
    stats = store.stats()
    n_docs = stats["n_docs"]
    if pq is None or not pq.terms or n_docs == 0:
        return local_frame(spark, HITS_SCHEMA)
    dfmap = store.df_for_terms(spark, list(dict.fromkeys(pq.terms + pq.not_terms)))
    spec = query_spec("", pq, dfmap, n_docs)
    if spec is None:
        return local_frame(spark, HITS_SCHEMA)
    hits, dm = _score_shards(
        spark, store, cfg, stats, [spec],
        # each shard holds offset+k hits so the global merge can page
        # exactly; with an `after` cursor, k (+ ties, kept in-kernel) is
        # enough; _return_all disables truncation entirely
        k=(1 << 62) if _return_all else (k if after is not None else offset + k),
        mode=mode, allow_doc_ids=allow_doc_ids, apply_deletes=apply_deletes,
        after_score=float(after[0]) if after is not None else None,
        local=not _return_all,
    )
    if dm is not None:
        top = _rank_local(hits, dm, k, offset=offset, after=after)
        out = local_frame(spark, HITS_SCHEMA, top)
        return _hydrate(spark, store, out, hydrate, corpus_df)
    hits = hits.drop("query_id")

    # Q-5 hydrate docnos → doc_ids — a stats-driven strategy choice, like
    # any cost-based planner:
    #   * SMALL index (n_docs < cfg.hydrate_pushdown_min_docs): keep the
    #     kernel output distributed and broadcast-join it against the full
    #     docmap scan — ONE Spark job end to end; a second scheduling
    #     round would dominate latency at this scale (measured: the
    #     two-job shape doubled warm p50 on the sf0.1 bench).
    #   * LARGE index: collect the result-sized hits (≤ (offset+k) rows
    #     per (segment, shard) group — the same class as the final
    #     toPandas, never O(corpus)) and PUSH the hit keys into the
    #     docmap scan as predicates: segment_id prunes partitions,
    #     (shard, docno IN …) prunes row groups (docmap is written sorted
    #     by (shard, docno)). A full docmap scan per query is the
    #     dominant per-query cost at 10^12 docs.
    if _return_all:
        # full scored match set, distributed: the docmap join stays a
        # shuffle-free broadcast only when hits are known-small — here
        # they are O(matches), so use a plain key join and let AQE pick
        return _with_doc_ids(spark, store, hits, broadcast=False).select(
            "doc_id", "score"
        )

    def _page(scored: DataFrame) -> DataFrame:
        if after is not None:
            s0, i0 = float(after[0]), int(after[1])
            scored = scored.where(
                (F.col("score") < s0)
                | ((F.col("score") == s0) & (F.col("doc_id") > i0))
            )
            return scored.orderBy(
                F.desc("score"), F.asc("doc_id")
            ).limit(k)
        return (
            scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .offset(offset)
            .limit(k)
        )
    if n_docs < cfg.hydrate_pushdown_min_docs:
        out = _page(_with_doc_ids(spark, store, hits).select("doc_id", "score"))
        return _hydrate(spark, store, out, hydrate, corpus_df)
    hit_rows = hits.collect()
    if not hit_rows:
        out = local_frame(spark, HITS_SCHEMA)
    else:
        hits_df = local_frame(spark, hits.schema, hit_rows)
        by_part: dict[tuple[int, int], list[int]] = {}
        for r in hit_rows:
            by_part.setdefault((r["segment_id"], r["shard"]), []).append(
                r["docno"]
            )
        seg_pred = F.col("segment_id").isin(
            sorted({seg for seg, _ in by_part})
        )
        part_pred = None
        for (seg, sh), dns in sorted(by_part.items()):
            c = (
                (F.col("segment_id") == seg)
                & (F.col("shard") == sh)
                & F.col("docno").isin(dns)
            )
            part_pred = c if part_pred is None else (part_pred | c)
        dm = (
            store.docmap(spark)
            .select("segment_id", "shard", "docno", "doc_id")
            .where(seg_pred & part_pred)
        )
        out = _page(
            dm.join(F.broadcast(hits_df), ["segment_id", "shard", "docno"])
            .select("doc_id", "score")
        )
    return _hydrate(spark, store, out, hydrate, corpus_df)


def search_collapse(
    spark: SparkSession,
    store,  # fastcatsearch3_spark.index.IndexStore
    query: str | ParsedQuery,
    group_col: str,
    k: int = 10,
    per_group: int = 1,
    mode: str = "bmw",
    corpus_df: DataFrame | None = None,
) -> DataFrame:
    """Field collapse / result grouping: the reference's result *bundling*
    (server:search result grouping [M]) — one entry per distinct
    ``group_col`` value, ranked by its best-scoring document, with the
    total number of matches in the bundle.

    Returns (``group_col``, doc_id, score, group_hits, rank_in_group)
    limited to the top-``k`` groups; with ``per_group`` > 1, up to that
    many best documents per surviving group.

    Scale shape: the full scored match set stays distributed
    (``search_index(_return_all=True)`` — no top-k truncation, no driver
    collect); "best doc per group" is ONE hash aggregate (map-side
    combinable ``max(struct(score, -doc_id))``), and the top-k-groups
    merge is TakeOrderedAndProject. The ``per_group`` > 1 expansion runs
    a row_number window ONLY over rows of the k surviving groups
    (broadcast semi-join first), never over the full match set.
    """
    scored = search_index(
        spark, store, query, mode=mode, _return_all=True
    )
    # work on an internal alias so group_col == "doc_id" (collapse on the
    # unique key, i.e. plain search) never creates a duplicate column
    gc = "__grp"
    if group_col != "doc_id":
        if corpus_df is not None:
            fields = corpus_df
        elif store.has_corpus():
            fields = store.corpus(spark)
        else:
            raise ValueError(
                "collapse needs the group field's stored values: pass "
                "corpus_df= or keep a corpus/ copy in the index root"
            )
        scored = scored.join(
            fields.select("doc_id", F.col(group_col).alias(gc)), "doc_id"
        )
    else:
        scored = scored.withColumn(gc, F.col("doc_id"))
    # best (score desc, doc_id asc) per group in one combinable aggregate:
    # max of struct compares fields left-to-right, so (score, -doc_id)
    # encodes exactly the ranking tie-break
    if group_col == "doc_id":
        out_cols = ["doc_id", "score", "group_hits", "rank_in_group"]
    else:
        out_cols = [
            F.col(gc).alias(group_col), "doc_id", "score", "group_hits",
            "rank_in_group",
        ]
    best = (
        scored.groupBy(gc)
        .agg(
            F.max(
                F.struct(
                    F.col("score"), (-F.col("doc_id")).alias("nid")
                )
            ).alias("m"),
            F.count(F.lit(1)).alias("group_hits"),
        )
        .select(
            gc,
            (-F.col("m.nid")).cast("long").alias("doc_id"),
            F.col("m.score").alias("score"),
            "group_hits",
        )
    )
    topg = (
        best.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank_in_group", F.lit(1))
    )
    if per_group <= 1:
        return topg.select(*out_cols)
    from pyspark.sql import Window

    members = scored.join(
        F.broadcast(
            topg.select(
                gc,
                "group_hits",
                F.col("score").alias("_best_score"),
                F.col("doc_id").alias("_best_doc"),
            )
        ),
        gc,
    )
    w = Window.partitionBy(gc).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        members.withColumn("rank_in_group", F.row_number().over(w))
        .where(F.col("rank_in_group") <= per_group)
        # bundles in best-score order, docs in rank order within a bundle
        .orderBy(
            F.desc("_best_score"), F.asc("_best_doc"), F.asc("rank_in_group")
        )
        .select(*out_cols)
    )


@_dataclass
class Bm25fQuery:
    """A true-BM25F query for :func:`search_many` (one query of it is
    :func:`search_bm25f`): every word of ``text`` must match in >= 1 of
    the weighted fields (AND across words); per word, field tfs are
    length-normalized, weighted and MERGED before the single k1
    saturation, idf over the doc-level union df (``dfu_for_terms``)."""

    text: str
    field_weights: dict[str, float]


def _bm25f_spec(
    spark: SparkSession, store, qid: str, fq: Bm25fQuery, cfg, stats: dict
) -> tuple | None:
    """A BM25F query's kernel spec ``(qid, words)`` (``make_kernel``):
    per word, its idf over the doc-level union df (served by the store's
    epoch-cached ``dfu_for_terms``) and one ``(weight, field avgdl,
    field-qualified key)`` entry per field. None when the index is empty
    or a word is in no field (AND). Raises ValueError on an unknown field
    or a word that analyzes to nothing."""
    where = f"query {qid!r}: " if qid else ""
    if not fq.field_weights:
        raise ValueError(f"{where}field_weights must name at least one field")
    for fld in fq.field_weights:
        if fld not in cfg.indexed_fields:
            raise ValueError(
                f"{where}unknown search field {fld!r} "
                f"(indexed: {cfg.indexed_fields})"
            )
    bases: list[str] = []
    words = fq.text.split()
    for w, toks in zip(words, analyze_words(words, cfg)):
        if not toks:
            raise ValueError(f"{where}query word {w!r} analyzed to nothing")
        bases.extend(t for t in toks if t not in bases)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    if not bases or n_docs == 0:
        return None
    dfu = dfu_for_terms(spark, store, bases, list(fq.field_weights))
    if any(dfu.get(t, 0) == 0 for t in bases):
        return None
    by_field = stats.get("avgdl_by_field") or {}
    fields = [
        (float(w), avgdl if f == "content" else by_field.get(f, avgdl), f)
        for f, w in fq.field_weights.items()
    ]
    words = [
        (
            float(bm25_idf(n_docs, dfu[t])),
            [(w, adl, t if f == "content" else f"{f}:{t}") for w, adl, f in fields],
        )
        for t in bases
    ]
    return qid, words


def search_many(
    spark: SparkSession,
    store,  # fastcatsearch3_spark.index.IndexStore
    queries: dict[str, "str | ParsedQuery"],
    k: int = 10,
    mode: str = "bmw",
    apply_deletes: bool = True,
    allow_doc_ids: DataFrame | None = None,
) -> DataFrame:
    """Batch query execution — the engine's throughput mode. The reference
    serves one SearchJob per request (server job service [K]); offline
    eval / query-log replay over a 100 TB index instead wants N queries to
    share ONE postings scan and ONE kernel pass: the scan is filtered to
    the UNION of all queries' terms (one pushed ``In``), each
    (segment, shard) group scores every query against its local slice,
    and the global per-query top-k is one window over the result-sized
    hit relation (≤ queries × groups × k rows). Scheduling cost is ~one
    query's, amortized over the batch.

    Output: (query_id, doc_id, score), per-query (score desc, doc_id asc)
    top-k. The FULL query surface is batchable: flat AND/OR/NOT, synonym
    groups, msm, caret boosts, field terms, phrases / proximity (the
    positions sidecar is fetched only for phrase terms), nested clause
    trees, prefix terms (expanded against the lexicon per query before
    ``query_spec``) and ``Bm25fQuery`` entries. Each (segment, shard,
    term) posting list is decoded at most once per kernel call and
    shared across every query in the batch. Tombstoned docs are
    excluded via the epoch denied mask cogrouped into the kernel.

    ``allow_doc_ids``: optional allow-filter. With a ``query_id`` column,
    each row restricts only that query (other queries stay unfiltered);
    without one, the filter applies to every query in the batch."""
    if not queries:
        return local_frame(spark, BATCH_HITS_SCHEMA)
    cfg = store.config()
    stats = store.stats()
    parsed: dict[str, ParsedQuery] = {}
    f_specs: list[tuple] = []
    for qid, q in _parse_strings(queries, cfg).items():
        if isinstance(q, Bm25fQuery):
            fs = _bm25f_spec(spark, store, qid, q, cfg, stats)
            if fs is not None:
                f_specs.append(fs)
            continue
        pq = _expand_prefixes(spark, store, q, cfg)
        if pq is not None:  # None: an AND'd prefix matched nothing
            parsed[qid] = pq
    n_docs = stats["n_docs"]
    if n_docs == 0:
        return local_frame(spark, BATCH_HITS_SCHEMA)
    dfmap = store.df_for_terms(
        spark, sorted({t for pq in parsed.values() for t in pq.terms + pq.not_terms})
    )
    specs = [
        s for qid, pq in parsed.items()
        if (s := query_spec(qid, pq, dfmap, n_docs)) is not None
    ]
    if not specs and not f_specs:
        return local_frame(spark, BATCH_HITS_SCHEMA)
    hits, dm = _score_shards(
        spark, store, cfg, stats, specs, f_specs, k=k, mode=mode,
        allow_doc_ids=allow_doc_ids, apply_deletes=apply_deletes,
    )
    if dm is not None:
        top = _rank_local(hits, dm, k, by_query=True)
        return local_frame(spark, BATCH_HITS_SCHEMA, top)
    return _top_per_query(
        _with_doc_ids(spark, store, hits).select("query_id", "doc_id", "score"), k
    )


def hybrid_search(
    spark: SparkSession,
    store,  # fastcatsearch3_spark.index.IndexStore
    query: str | ParsedQuery,
    emb: DataFrame,
    probe_id: int,
    k: int = 10,
    rerank_k: int = 100,
    alpha: float = 0.5,
    norm: str = "none",
) -> DataFrame:
    """Hybrid retrieval — lexical recall, dense precision: BM25 generates
    the top-``rerank_k`` candidates, each is re-scored by a blend with
    its embedding's cosine similarity to the probe vector, and the
    blended top-k wins. An engine extension past the reference (which is
    lexical-only); the standard first-stage/re-rank composition of a
    modern retrieval stack. ``final = alpha·lex + (1−alpha)·dense`` where
    the score-normalization policy is selected by ``norm``:

      * ``"none"``   — raw scores (BM25 and cosine blended as-is);
      * ``"minmax"`` — each side rescaled to [0,1] over the CANDIDATE
        relation ((x−min)/(max−min); 0.5 when max==min) — the standard
        affine-blend hygiene when the two score scales are incomparable;
      * ``"zscore"`` — each side standardized ((x−μ)/σ_pop over the
        candidates; 0.0 when σ==0) — robust to outlier candidates.

    RRF (``hybrid_search_rrf``) remains the default-safe scale-free
    combiner; these modes cover the affine-blend policies. The stats are
    one aggregate over the ≤``rerank_k``-row candidate relation, joined
    back by broadcast — result-sized, never corpus-sized.
    Candidates without an embedding row drop out (inner join).

    Scale shape: the candidate list is result-sized (≤ rerank_k), so its
    ids are PUSHED into the embeddings scan as an ``In`` predicate
    (row-group pruning — never a full embedding-table scan per query),
    and the probe vector is one collected row. Output:
    (doc_id, score, cosine, blended) ordered by (blended desc, doc_id)."""
    from fastcatsearch3_spark.dataops.similarity import _dot, _dvec, _norm

    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    if norm not in ("none", "minmax", "zscore"):
        raise ValueError("norm must be 'none', 'minmax' or 'zscore'")
    hit_rows = search_index(spark, store, query, k=rerank_k).collect()
    if not hit_rows:
        return local_frame(
            spark, "doc_id long, score double, cosine double, blended double"
        )
    hits = local_frame(spark, HITS_SCHEMA, hit_rows)
    ids = [r["doc_id"] for r in hit_rows]
    cand = (
        emb.where(F.col("vec_id").isin(ids))
        .select(
            F.col("vec_id").alias("doc_id"), _dvec("embedding").alias("vec")
        )
    )
    probe = (
        emb.where(F.col("vec_id") == probe_id)
        .select(_dvec("embedding").alias("qvec"))
    )
    cos = _dot("vec", "qvec") / (_norm("vec") * _norm("qvec"))
    scored = (
        cand.crossJoin(F.broadcast(probe))
        .join(F.broadcast(hits), "doc_id")
        .withColumn("cosine", cos)
    )
    if norm == "none":
        lex, den = F.col("score"), F.col("cosine")
    else:
        stats = scored.agg(
            F.min("score").alias("s_min"), F.max("score").alias("s_max"),
            F.avg("score").alias("s_avg"),
            F.stddev_pop("score").alias("s_std"),
            F.min("cosine").alias("c_min"), F.max("cosine").alias("c_max"),
            F.avg("cosine").alias("c_avg"),
            F.stddev_pop("cosine").alias("c_std"),
        )
        scored = scored.crossJoin(F.broadcast(stats))
        if norm == "minmax":
            lex = F.when(
                F.col("s_max") > F.col("s_min"),
                (F.col("score") - F.col("s_min"))
                / (F.col("s_max") - F.col("s_min")),
            ).otherwise(F.lit(0.5))
            den = F.when(
                F.col("c_max") > F.col("c_min"),
                (F.col("cosine") - F.col("c_min"))
                / (F.col("c_max") - F.col("c_min")),
            ).otherwise(F.lit(0.5))
        else:  # zscore
            lex = F.when(
                F.col("s_std") > 0,
                (F.col("score") - F.col("s_avg")) / F.col("s_std"),
            ).otherwise(F.lit(0.0))
            den = F.when(
                F.col("c_std") > 0,
                (F.col("cosine") - F.col("c_avg")) / F.col("c_std"),
            ).otherwise(F.lit(0.0))
    return (
        scored.select(
            "doc_id",
            "score",
            "cosine",
            (F.lit(alpha) * lex + F.lit(1.0 - alpha) * den).alias("blended"),
        )
        .orderBy(F.desc("blended"), F.asc("doc_id"))
        .limit(k)
    )


def hybrid_search_rrf(
    spark: SparkSession,
    store,  # fastcatsearch3_spark.index.IndexStore
    query: str | ParsedQuery,
    emb: DataFrame,
    probe_id: int,
    k: int = 10,
    rerank_k: int = 100,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion variant of hybrid retrieval:
    ``rrf = 1/(c + lexical_rank) + 1/(c + dense_rank)`` over the BM25
    candidate set — the score-scale-free combiner (Cormack et al.'s RRF,
    c=60 conventional), preferable to the affine blend when the two score
    distributions are incomparable. Ranks are dense over the candidate
    relation (≤ rerank_k rows), so both windows are result-sized. Output:
    (doc_id, lex_rank, dense_rank, rrf_e6) by (rrf desc, doc_id asc) —
    rrf exported e6 because values live in [0, 2/(c+1)]."""
    from pyspark.sql import Window as W

    from fastcatsearch3_spark.dataops.similarity import _dot, _dvec, _norm

    hit_rows = search_index(spark, store, query, k=rerank_k).collect()
    if not hit_rows:
        return local_frame(
            spark, "doc_id long, lex_rank int, dense_rank int, rrf_e6 long"
        )
    hits = local_frame(spark, HITS_SCHEMA, hit_rows)
    ids = [r["doc_id"] for r in hit_rows]
    cand = emb.where(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("doc_id"), _dvec("embedding").alias("vec")
    )
    probe = (
        emb.where(F.col("vec_id") == probe_id)
        .select(_dvec("embedding").alias("qvec"))
    )
    cos = _dot("vec", "qvec") / (_norm("vec") * _norm("qvec"))
    scored = (
        cand.crossJoin(F.broadcast(probe))
        .join(F.broadcast(hits), "doc_id")
        .select("doc_id", "score", cos.alias("cosine"))
    )
    lex_w = W.orderBy(F.desc("score"), F.asc("doc_id"))
    den_w = W.orderBy(F.desc("cosine"), F.asc("doc_id"))
    return (
        scored.withColumn("lex_rank", F.row_number().over(lex_w))
        .withColumn("dense_rank", F.row_number().over(den_w))
        .withColumn(
            "rrf",
            1.0 / (F.lit(c) + F.col("lex_rank"))
            + 1.0 / (F.lit(c) + F.col("dense_rank")),
        )
        .select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            F.round(F.col("rrf") * 1e6).cast("long").alias("rrf_e6"),
        )
        .orderBy(F.desc("rrf_e6"), F.asc("doc_id"))
        .limit(k)
    )


def search_collections(
    spark: SparkSession,
    stores: dict[str, object],  # name -> IndexStore
    query: str | ParsedQuery,
    k: int = 10,
    mode: str = "bmw",
    **kw,
) -> DataFrame:
    """Federated multi-collection search — the reference's multi-collection
    request (``cn=c1,c2``) fanned out by ClusterSearchJob and merged on the
    master (server:…job.ClusterSearchJob [K], SURVEY.md Q-6 one level up).

    Each collection is searched against its OWN index and statistics
    (per-collection df/N/avgdl — exactly the reference's per-node scoring;
    scores are NOT re-normalized across collections), hits carry the
    collection name, and the per-collection top-k lists merge into a
    global (score desc, doc_id asc) top-k. The merge input is at most
    ``len(stores) × k`` rows — the same result-sized master merge the
    reference does, so it costs nothing at any corpus scale."""
    if not stores:
        raise ValueError("search_collections needs at least one store")
    # kwargs whose output the (collection, doc_id, score) merge would
    # silently discard or whose global semantics don't distribute over
    # per-collection searches — reject rather than half-apply
    for bad in ("hydrate", "offset", "_return_all"):
        if kw.get(bad):
            raise ValueError(
                f"search_collections does not support {bad!r}; run it on "
                "the merged ids (hydrate) or per collection (offset)"
            )
    out: DataFrame | None = None
    for name, store in stores.items():
        hits = search_index(spark, store, query, k=k, mode=mode, **kw)
        hits = hits.select(
            F.lit(name).alias("collection"), "doc_id", "score"
        )
        out = hits if out is None else out.unionByName(hits)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _hydrate(
    spark: SparkSession, store, out: DataFrame, hydrate: bool,
    corpus_df: DataFrame | None,
) -> DataFrame:
    if not hydrate:
        return out
    if corpus_df is not None:
        corpus = corpus_df
    elif store.has_corpus():
        corpus = store.corpus(spark)
    else:
        raise ValueError(
            "hydrate=True needs stored fields: pass corpus_df= or keep a "
            "corpus/ copy in the index root (the index itself stores only "
            "doc_ids — SURVEY.md Q-5)"
        )
    return (
        corpus.join(F.broadcast(out), "doc_id")
        .select("doc_id", "score", "repo", "path", "commit", "lang", "content")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


# ---------------------------------------------------------------------------
# True BM25F (SURVEY.md §10.2): merged weighted tf BEFORE saturation
# ---------------------------------------------------------------------------

def dfu_for_terms(
    spark: SparkSession,
    store,  # fastcatsearch3_spark.index.IndexStore
    bases: list[str],
    fields: list[str],
) -> dict[str, int]:
    """DOC-level (union-across-fields) document frequency for the given
    base terms — BM25F's idf is defined over the whole document, but the
    lexicon stores PER-FIELD dfs (field-qualified term keys), and union
    df cannot be derived from them (fields overlap). Computed exactly
    from the query terms' posting blobs: the same pushed-``In`` pruned
    postings scan a search performs, with a per-(segment, shard) kernel
    that unions each base term's docnos across its field variants
    (shards partition docs disjointly, so local union counts SUM to the
    global df). One result-sized extra job per cold term; cached on the
    driver per index epoch, exactly like IndexStore.df_for_terms."""
    ep = store.epoch()
    fsig = "|".join(sorted(fields))
    if getattr(store, "_dfu_epoch", None) != (ep, fsig):
        store._dfu_cache = {}
        store._dfu_epoch = (ep, fsig)
    missing = [t for t in bases if t not in store._dfu_cache]
    if missing:
        keys = [
            (b if f == "content" else f"{f}:{b}")
            for f in fields
            for b in missing
        ]
        base_of = {
            (b if f == "content" else f"{f}:{b}"): b
            for f in fields
            for b in missing
        }

        def union_counts(pdf: pd.DataFrame) -> pd.DataFrame:
            row, d, _, _ = decode_postings_many(pdf["postings"].tolist())
            bases = pdf["term"].map(base_of).to_numpy(object)
            ent = pd.DataFrame({"base": bases[row], "docno": d})
            dfu = ent.drop_duplicates().groupby("base", sort=False).size()
            return pd.DataFrame(
                {"base": dfu.index.to_numpy(object), "dfu": dfu.to_numpy(np.int64)}
            )

        cols = ["segment_id", "shard", "term", "postings"]
        local = store.local_view(keys, cols, with_deletes=False)
        if local is not None:  # driver route: same kernel, no Spark job
            part = _run_local(lambda pdf, _: union_counts(pdf), local[0], None)
            got = (
                {}
                if part is None
                else part.groupby("base")["dfu"].sum().astype(int).to_dict()
            )
        else:
            cand = (
                store.postings(spark)
                .where(F.col("term").isin(keys))
                .select(*cols)
            )
            part = cand.groupBy("segment_id", "shard").applyInPandas(
                union_counts, "base string, dfu long"
            )
            got = {
                r["base"]: int(r["dfu"])
                for r in part.groupBy("base")
                .agg(F.sum("dfu").alias("dfu"))
                .collect()
            }
        for b in missing:
            store._dfu_cache[b] = got.get(b, 0)
    return {b: store._dfu_cache[b] for b in bases}


def search_bm25f(
    spark: SparkSession,
    store,  # fastcatsearch3_spark.index.IndexStore
    text: str,
    field_weights: dict[str, float],
    k: int = 10,
    apply_deletes: bool = True,
) -> DataFrame:
    """Top-k TRUE BM25F search (Robertson & Zaragoza CIKM'04), vs the
    ``parse_multifield`` qf mode which is a weighted sum of per-field
    BM25 scores: here each word's field tfs are length-normalized,
    field-weighted, and SUMMED before the k1 saturation, and idf is the
    doc-level union df (``dfu_for_terms``). AND across words. Output:
    (doc_id, score), (score desc, doc_id asc). One ``Bm25fQuery`` of
    ``search_many``."""
    return search_many(
        spark, store, {"": Bm25fQuery(text, field_weights)}, k=k,
        apply_deletes=apply_deletes,
    ).drop("query_id")
