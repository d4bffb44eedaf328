"""Index build dataflow (SURVEY.md §2.I, §3.2) — the write path.

Reference lifecycle being re-expressed (FullIndexJob → DataSourceReader →
per-doc analysis → SegmentWriter memory-posting flush/merge →
SegmentInfo registration [K]):

    pass 0: doc_id-only scan ──count per (partition, shard)──▶ docno offsets

  Order-stable sources (file scans + narrow deterministic ops — the 100 TB
  case) build CHECKPOINT-FREE: each pass re-derives identical docnos
  locally from the pass-0 offsets and content is never written anywhere:
      pass A: corpus ──mapInPandas(docno assign + analyze dl)──▶ docmap
      pass B: corpus ──mapInPandas(docno assign + tokenize+tf-combine)──▶
              ──repartition(shard, term) mapInPandas pack──▶ postings
  Shuffled/nondeterministic sources fall back to the staged checkpoint
  (reduce-side fetch order is not stable across jobs):
    stage:  corpus ──mapInPandas(analyze dl + local docno assign)──▶
            staged sharded corpus (NO shuffle, checkpointed)
      pass A: staged ──projection──▶ docmap parquet
      pass B: staged ──mapInPandas tokenize+tf-combine──▶ … pack ──▶ postings

Shuffle accounting (the 100 TB design constraint):
  * content NEVER shuffles: dense per-shard docnos are assigned locally
    from pass-0 offsets (row counts per (input partition, shard) — a
    pruned doc_id-only scan), replacing the old row_number-over-shard
    window whose exchange + sort carried the full corpus and scaled at
    0.64 (2→8 cores) vs 0.87+ for every other phase;
  * shuffle: repartition(P, shard, term) of the combined token-tf
    stream to co-locate each (shard, term) posting list for packing; the
    occurrence→tf combine happens inside the vectorized pack kernel
    (factorize + lexsort + run-length — the reference's in-memory posting
    accumulation, core:ir.index.MemoryPosting [K], done reduce-side).
    Zipfian hot terms are split across shards, so no single task sees more
    than 1/num_shards of a hot term's postings (skew bound, SURVEY.md I-6).

Hot-path lessons baked in (measured on 100k docs, local[32]):
  * the analyzer UDF ships ONE space-joined string per row through Arrow —
    per-row Python dict/list→Arrow map/list conversion was ~10× slower;
  * pack is mapInPandas over hash partitions (one Arrow round-trip per
    partition), not applyInPandas per group (thousands of round-trips);
  * token filtering is a codegen'd post-explode predicate, not an
    interpreted array HOF.
Everything per-row runs in Arrow-batched pandas UDFs — no row-at-a-time
Python (BASELINE.json input_hint).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastcatsearch3_spark import schemas
from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.functions.analyzer import get_analyzer, tokens_string_udf
from fastcatsearch3_spark.functions.vbyte import (
    encode_positions_many,
    encode_postings_many,
    join_bytes,
)


# ---------------------------------------------------------------------------
# Analyzer + per-row term counting (I-2 + the map-side half of I-3)
# ---------------------------------------------------------------------------

def tokens_raw_column(cfg: EngineConfig):
    """content → array<string> tokens, via the space-joined string UDF.

    The Python side ships ONE string per row through Arrow (an order of
    magnitude cheaper than building per-row map/list arrays from Python
    objects — measured ~15 s → ~1 s per 100k docs per pass); the JVM
    re-splits with codegen'd split(). Tokens can never contain spaces
    (analyzer grammar), so the round-trip is lossless.

    CAVEAT: an empty token stream yields [""] (split of the empty string),
    not []. Use :func:`dl_column` for document length and filter
    ``term != ''`` after explode — a codegen'd predicate, deliberately NOT
    an array-HOF filter (interpreted, measured ~40% slower end-to-end)."""
    ts = tokens_string_udf(cfg)

    def col_for(content: F.Column) -> F.Column:
        return F.split(ts(content), " ")

    return col_for


def dl_column(toks: F.Column | str) -> F.Column:
    """Token count of a raw (possibly-[""]-valued) tokens array."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    return (
        F.when(toks == F.array(F.lit("")), F.lit(0)).otherwise(F.size(toks))
    ).cast("long")


def docno_offsets(corpus: DataFrame, num_shards: int) -> dict:
    """Pass 0 of the shuffle-free stage: per-(input-partition, shard) row
    counts → driver-side cumulative docno offsets.

    Reads ONLY the doc_id column (parquet-pruned scan, no content), and the
    counts are row-order-invariant, so the pass is immune to shuffle-read
    nondeterminism. With these offsets every partition can assign dense
    per-shard docnos LOCALLY — no content ever shuffles and no per-shard
    row_number window runs (the window's exchange + sort was the worst-
    scaling step of the old stage pass: measured eff 0.64 at 2→8 cores vs
    0.87 for the Python-kernel postings pass)."""
    rows = (
        corpus.select(
            F.spark_partition_id().alias("pid"),
            F.pmod(F.xxhash64("doc_id"), F.lit(num_shards)).cast("int").alias(
                "shard"
            ),
        )
        .groupBy("pid", "shard")
        .count()
        .collect()
    )
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append((r["pid"], r["count"]))
    offsets: dict[tuple[int, int], int] = {}
    for s, lst in by_shard.items():
        acc = 0
        for pid, c in sorted(lst):
            offsets[(pid, s)] = acc
            acc += c
    return offsets


def _docno_assigner(offsets: dict):
    """Stateful per-partition docno assigner: batch → int64 docnos.

    docno = offsets[(pid, shard)] + running count within the partition —
    dense per shard across the segment, a pure function of (partition,
    arrival order). Any two jobs that scan the same order-stable source
    assign IDENTICAL docnos, which is what lets the staged checkpoint be
    elided (docmap and postings passes re-derive docnos independently)."""
    counters: dict[int, int] = {}
    state = {"pid": None}

    def assign(pdf: pd.DataFrame) -> np.ndarray:
        if state["pid"] is None:
            state["pid"] = int(pdf["pid"].iloc[0])
        pid = state["pid"]
        sh = pdf["shard"].to_numpy()
        docno = np.empty(len(pdf), dtype=np.int64)
        for s, idx in pd.Series(np.arange(len(pdf))).groupby(sh):
            s = int(s)
            pos = idx.to_numpy()
            base = counters.get(s)
            if base is None:
                base = offsets[(pid, s)]
            docno[pos] = base + np.arange(pos.size)
            counters[s] = base + pos.size
        return docno

    return assign


def make_stage_stream(
    cfg: EngineConfig,
    offsets: dict,
    extra_fields: list[str],
    emit_content: bool = True,
):
    """mapInPandas kernel for the stage pass: per-partition batches of
    (pid, shard, doc_id, pk_hash, content_sha256, content, extras) →
    + (docno, dl) in ONE Arrow pass.

    docno = offsets[(pid, shard)] + running count within the partition
    (dense per shard across the segment); dl = analyzed token count (the
    analyzer already had to cross Arrow for dl — fusing docno assignment
    here makes the whole stage a narrow scan → kernel → write pipeline).

    dl fast path: when no post-filter can change the token COUNT (standard
    analyzer, no stopwords, min_len ≤ 1, no compound emission — the
    default config), dl comes from a C-level regex count over the
    camel/lower-normalized text instead of materializing token lists:
    measured 2.1× faster for the same counts (50k docs: 6.5 s → 3.1 s).
    Any filtering config falls back to the full tokenizer. (The fast
    count ignores max_token_len — a >64-char alnum run counts toward dl
    but is dropped from the index, i.e. unindexable tokens still count as
    document length; this matches the DuckDB oracle's unfiltered count.)"""
    fn = get_analyzer(cfg)
    fast_count = (
        cfg.analyzer == "standard"
        and not cfg.stopwords
        and cfg.min_token_len <= 1
        and not cfg.emit_original_compound
        and not cfg.index_synonyms  # appended members count toward dl
    )
    if fast_count:
        from fastcatsearch3_spark.functions.analyzer import (
            _CAMEL1,
            _CAMEL2,
            _TOKEN,
        )

        def dl_of(content: pd.Series) -> np.ndarray:
            s = (
                content.fillna("").astype(str)
                .str.replace(_CAMEL1, " ", regex=True)
                .str.replace(_CAMEL2, " ", regex=True)
                .str.lower()
            )
            return s.str.count(_TOKEN).to_numpy(dtype=np.int64)

    else:

        def dl_of(content: pd.Series) -> np.ndarray:
            return fn(content, cfg).str.len().to_numpy(dtype=np.int64)

    out_cols = (
        ["shard", "docno", "doc_id", "pk_hash", "dl", "content_sha256"]
        + (["content"] if emit_content else [])
        + extra_fields
    )

    def stage_batches(batches):
        assign = _docno_assigner(offsets)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dl = dl_of(pdf["content"])
            docno = assign(pdf)
            out = pdf.drop(columns=["pid"]).assign(docno=docno, dl=dl)
            yield out[out_cols]

    return stage_batches


def make_stage_tokenize_stream(
    cfg: EngineConfig, offsets: dict, term_prefix: str = ""
):
    """Fused postings-pass kernel for the checkpoint-free build: docno
    assignment (from pass-0 offsets) AND tokenize + occurrence→tf combine
    in ONE Arrow pass over (pid, shard, content) batches — the content
    column crosses into Python exactly once and is never written anywhere.
    """
    inner = make_tokenize_combine_stream(cfg, term_prefix)

    def gen(batches):
        assign = _docno_assigner(offsets)

        def staged():
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                yield pdf.assign(docno=assign(pdf))[
                    ["shard", "docno", "content"]
                ]

        yield from inner(staged())

    return gen


TOKCOMBINE_SCHEMA = "shard int, docno bigint, dl bigint, term string, tf bigint"
TOKCOMBINE_SCHEMA_POS = TOKCOMBINE_SCHEMA + ", pos binary"


def make_tokenize_combine_stream(cfg: EngineConfig, term_prefix: str = ""):
    """mapInPandas kernel: (shard, docno, content) batches → combined
    (shard, docno, dl, term, tf[, pos]) rows — tokenize AND occurrence→tf
    combine in one vectorized pass (flat factorize + keyed grouping).

    This is the map-side half of I-3 done entirely in Python: the shuffle
    then carries one row per DISTINCT (doc, term) (~cf/df ≈ 5× fewer rows
    than raw occurrences on code corpora), and the JVM never explodes or
    Arrow-serializes the occurrence stream at all.

    With ``cfg.store_positions`` each row additionally carries ``pos``:
    the term's within-doc token positions (0-based index into the ANALYZED
    token stream), delta-gapped and vbyte-encoded — one bytes object per
    (doc, term), assembled from ONE vectorized vbyte encode of the whole
    batch's delta stream (the only loop is the per-group byte slicing)."""
    fn = get_analyzer(cfg)
    store_pos = cfg.store_positions

    def gen(batches):
        from fastcatsearch3_spark.functions.vbyte import vbyte_encode

        for pdf in batches:
            if not len(pdf):
                continue
            toks = fn(pdf["content"], cfg)
            lens = np.fromiter((len(t) for t in toks), np.int64, count=len(toks))
            total = int(lens.sum())
            if total == 0:
                continue
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in toks if t]
            )
            rows = np.repeat(np.arange(len(toks)), lens)
            codes, uniq = pd.factorize(pd.Series(flat))
            if term_prefix:  # field-qualified terms ("f:term", F-field ext)
                uniq = pd.Index([term_prefix + u for u in uniq])
            nuniq = len(uniq) + 1
            key = rows * nuniq + codes
            shard = pdf["shard"].to_numpy(np.int32)
            docno = pdf["docno"].to_numpy(np.int64)
            if not store_pos:
                uk, counts = np.unique(key, return_counts=True)
                urow = (uk // nuniq).astype(np.int64)
                ucode = (uk % nuniq).astype(np.int64)
                yield pd.DataFrame(
                    {
                        "shard": shard[urow],
                        "docno": docno[urow],
                        "dl": lens[urow],
                        "term": np.asarray(uniq, dtype=object)[ucode],
                        "tf": counts.astype(np.int64),
                    }
                )
                continue
            # positions path: stable sort groups occurrences by (doc, term)
            # while preserving within-doc order → per-group position runs
            row_offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
            pos_in_row = np.arange(total, dtype=np.int64) - np.repeat(
                row_offsets, lens
            )
            order = np.argsort(key, kind="stable")
            skey = key[order]
            spos = pos_in_row[order]
            gmask = np.empty(total, dtype=bool)
            gmask[0] = True
            gmask[1:] = skey[1:] != skey[:-1]
            gstarts = np.nonzero(gmask)[0]
            counts = np.diff(np.append(gstarts, total)).astype(np.int64)
            uk = skey[gstarts]
            deltas = spos.copy()
            deltas[1:] -= spos[:-1]
            deltas[gstarts] = spos[gstarts]
            enc, blens = vbyte_encode(deltas.astype(np.uint64), return_lens=True)
            ends = np.cumsum(blens)
            g_ends = ends[np.append(gstarts[1:], total) - 1]
            g_starts = np.concatenate(([0], g_ends[:-1]))
            raw = enc.tobytes()
            pos_bytes = [raw[s:e] for s, e in zip(g_starts, g_ends)]
            urow = (uk // nuniq).astype(np.int64)
            ucode = (uk % nuniq).astype(np.int64)
            yield pd.DataFrame(
                {
                    "shard": shard[urow],
                    "docno": docno[urow],
                    "dl": lens[urow],
                    "term": np.asarray(uniq, dtype=object)[ucode],
                    "tf": counts,
                    "pos": pos_bytes,
                }
            )

    return gen


# ---------------------------------------------------------------------------
# Posting pack kernel (reduce half of I-3, + I-9 block maxima)
# ---------------------------------------------------------------------------

PACK_SCHEMA = (
    "shard int, term string, df bigint, cf bigint, postings binary"
)
PACK_SCHEMA_POS = PACK_SCHEMA + ", positions binary"


_PACK_EMPTY = pd.DataFrame(
    {
        "shard": pd.Series([], dtype="int32"),
        "term": pd.Series([], dtype=object),
        "df": pd.Series([], dtype="int64"),
        "cf": pd.Series([], dtype="int64"),
        "postings": pd.Series([], dtype=object),
    }
)


def _pack_frame(pdf: pd.DataFrame, block_size: int, combine: bool) -> pd.DataFrame:
    """Pack every (shard, term) posting list present in ``pdf``.

    With ``combine=True`` the input is the raw occurrence stream
    (shard, docno, dl, term — one row per token occurrence) and the kernel
    performs the occurrence→tf combine via factorize + lexsort + run-length
    (all numpy C paths) — the reference's in-memory posting accumulation
    (core:ir.index.MemoryPosting [K]) done reduce-side. With
    ``combine=False`` the input already carries a ``tf`` column (used by
    compaction, whose decode emits combined rows)."""
    if len(pdf) == 0:
        return _PACK_EMPTY
    has_pos = "pos" in pdf.columns
    if has_pos and combine:
        raise ValueError("positions require pre-combined (doc, term) rows")
    tcode, uniq = pd.factorize(pdf["term"])
    shards = pdf["shard"].to_numpy(np.int64)
    docnos = pdf["docno"].to_numpy(np.int64)
    dls = pdf["dl"].to_numpy(np.int64)
    nterm = len(uniq) + 1
    key = shards * nterm + tcode  # composite (shard, term) group id
    order = np.lexsort((docnos, key))
    key = key[order]
    dn = docnos[order]
    dl = dls[order]
    if combine:
        grp = np.empty(len(key), dtype=bool)
        grp[0] = True
        grp[1:] = (key[1:] != key[:-1]) | (dn[1:] != dn[:-1])
        gstart = np.nonzero(grp)[0]
        tf = np.diff(np.append(gstart, len(key))).astype(np.int64)
        key, dn, dl = key[gstart], dn[gstart], dl[gstart]
    else:
        tf = pdf["tf"].to_numpy(np.int64)[order]
    # (shard, term) runs over the combined (docno, tf) rows
    trun = np.empty(len(key), dtype=bool)
    trun[0] = True
    trun[1:] = key[1:] != key[:-1]
    starts = np.nonzero(trun)[0]
    run_lens = np.diff(np.append(starts, len(key)))
    uniq_arr = np.asarray(uniq, dtype=object)
    cols = {
        "shard": (key[starts] // nterm).astype(np.int32),
        "term": uniq_arr[(key[starts] % nterm).astype(np.int64)],
        "df": run_lens.astype(np.int64),
        "cf": np.add.reduceat(tf, starts).astype(np.int64),
        "postings": encode_postings_many(run_lens, dn, tf, dl, block_size),
    }
    if has_pos:
        pbuf, pstarts, plens = join_bytes(pdf["pos"].to_numpy(object)[order])
        cols["positions"] = encode_positions_many(
            run_lens, pbuf, pstarts, plens, block_size
        )
    return pd.DataFrame(cols)


def make_pack_stream(block_size: int, combine: bool = True):
    """mapInPandas-shaped pack kernel: one call per PARTITION, packing all
    of its (shard, term) groups in a single vectorized pass.

    Used with ``repartition(P, "shard", "term")``, which co-locates every
    posting list wholly in one partition. One Arrow round-trip per
    partition instead of one per group (thousands) — measured to cut the
    pack stage's JVM overhead by >10×; P (shuffle partitions) bounds
    per-task memory."""

    def packs(batches):
        chunks = [b for b in batches if len(b)]
        if not chunks:
            return
        yield _pack_frame(pd.concat(chunks, ignore_index=True), block_size, combine)

    return packs


# ---------------------------------------------------------------------------
# Segment build (I-1..I-4)
# ---------------------------------------------------------------------------

def _stable_leaves(df: DataFrame) -> bool:
    """True when every leaf of ``df``'s executed plan is a file-source
    scan (split planning is a pure function of files and reader confs,
    and parquet rows stream in row-group order) or an existing-RDD scan
    (a parallelized collection — what ``createDataFrame`` builds with
    Arrow off). An allow-list: any other leaf is False. A
    ``LocalTableScan`` (``createDataFrame`` with Arrow on) is one — the
    optimiser folds projections over it into the leaf and evaluates
    them on the driver, ``spark_partition_id()`` included, so every row
    reads partition 0."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
        leaves = plan.collectLeaves()
        kinds = {
            leaves.apply(i).getClass().getSimpleName()
            for i in range(leaves.size())
        }
    except Exception:
        return False
    return kinds <= {"FileSourceScanExec", "RDDScanExec"}


def _order_stable_plan(df: DataFrame) -> bool:
    """True when re-evaluating ``df`` in separate jobs is guaranteed to
    produce the same rows in the same order per partition — the condition
    for eliding the staged checkpoint (docmap and postings passes then
    re-derive identical docnos independently).

    Holds for plans whose leaves pass ``_stable_leaves`` under narrow
    deterministic operators. Broken by any Exchange (shuffle reduce-side
    fetch order is nondeterministic across jobs) or nondeterministic
    expression; those fall back to the staged-checkpoint path."""
    if not _stable_leaves(df):
        return False
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return False
    bad = ("Exchange", "Sample", "rand(", "randn(", "uuid(", "shuffle(")
    return not any(b in plan for b in bad)


def build_segment(
    spark: SparkSession,
    corpus: DataFrame,
    index_root: str,
    cfg: EngineConfig | None = None,
    segment_id: int = 0,
    verify_integrity: bool = True,
    lineage: dict | None = None,
) -> dict:
    """Build one immutable segment (docmap + packed postings) and write its
    manifest. Returns the manifest dict."""
    cfg = cfg or EngineConfig()
    root = Path(index_root)
    t0 = time.monotonic()

    # Shared prefix of both passes: shard assignment + dense per-shard
    # docno. Deliberately NOT persisted: caching the tokenized corpus
    # through Spark's columnar cache is pathological for complex types
    # (measured 15s to cache + 20s to rescan 20k rows vs ~2s to recompute),
    # and at 100 TB it would dwarf cluster memory anyway. The analyzer
    # therefore runs once per pass (2× total) — pure CPU that scales
    # linearly and keeps every pass pipeline-shaped (scan → shuffle →
    # write) with no materialization barrier. The dense-docno window means
    # one task per shard here: num_shards is the knob that bounds per-task
    # memory at scale (EngineConfig docstring).
    # Parallelism guard: a corpus arriving as few partitions (e.g. one
    # parquet file with one row group — unsplittable) would pin the
    # analyzer to one core, because Catalyst evaluates projects below the
    # window exchange. Round-robin to full parallelism first; at scale the
    # input is thousands of files and this is a no-op.
    #
    # Task-count discipline (measured): every partition costs a fixed
    # Python-worker/Arrow round-trip (~0.1 s) plus serial driver
    # scheduling, so partition counts follow CORES (defaultParallelism /
    # spark.sql.shuffle.partitions), never num_shards — shard is a DATA
    # key (docno density, skew bound), not a task count. The previous
    # max(parallelism, num_shards) put ~1800 tasks through a 256-shard
    # build regardless of corpus size, ~100 s of pure overhead at
    # local[2].
    # A plan with any other leaf than ``_stable_leaves`` allows is
    # repartitioned too: the partition ids the offsets pass and the stage
    # pass read must come from real partitions.
    target = spark.sparkContext.defaultParallelism
    need_guard = (
        corpus.rdd.getNumPartitions() < target or not _stable_leaves(corpus)
    )
    if need_guard:
        # hash repartition (NOT round-robin): partition membership must be
        # a pure function of doc_id so the offsets pass and the stage pass
        # below see identical (pid → rows) layouts across their two jobs
        corpus = corpus.repartition(target, F.col("doc_id"))
    # Staged-checkpoint elision: when the corpus plan is order-stable
    # across jobs (file scan + narrow deterministic ops — the 100 TB
    # case), the docmap and postings passes each re-derive (shard, docno)
    # locally from the pass-0 offsets and the full-content checkpoint is
    # never written OR read back: content flows scan → kernel → final
    # write in both passes, reading the source twice (already true) but
    # writing it zero times. A guard-repartitioned or otherwise shuffled
    # corpus keeps the checkpoint (reduce-side fetch order is not stable
    # across jobs, so docnos assigned twice could disagree).
    use_staged = need_guard or not _order_stable_plan(corpus)

    # Dense per-shard docnos — ZERO content shuffle either way: pass 0
    # counts rows per (partition, shard) over a doc_id-only scan and every
    # partition assigns its docno range locally inside the same Arrow pass
    # that runs the analyzer. (Docnos within a shard follow partition
    # order, not global doc_id order; postings still delta-gap over dense
    # ids and the docmap is written sorted by (shard, docno) per file,
    # which is what pruning and compression actually need.)
    extra_fields = [f for f in cfg.indexed_fields if f != "content"]
    offsets = docno_offsets(corpus, cfg.num_shards)
    base = (
        corpus.withColumn("pid", F.spark_partition_id())
        .withColumn(
            "shard",
            F.pmod(F.xxhash64("doc_id"), F.lit(cfg.num_shards)).cast("int"),
        )
        # pk identifies the logical document across versions (J-7): a
        # later segment carrying the same pk supersedes this row
        # (DeleteIdSet semantics, core:ir.index.DeleteIdSet [K])
        .withColumn("pk_hash", F.xxhash64("repo", "path"))
    )

    def gated(df: DataFrame) -> DataFrame:
        """Fused per-row content_sha256 gate (BASELINE.json input_hint):
        assert_true returns NULL (isNull() keeps every row) and aborts the
        first content-bearing write on the first violating row."""
        if not verify_integrity:
            return df
        return df.where(
            F.assert_true(
                F.sha2(F.col("content"), 256) == F.col("content_sha256"),
                F.concat(
                    F.lit("content_sha256 invariant violated for doc_id="),
                    F.col("doc_id").cast("string"),
                ),
            ).isNull()
        )

    def surface_gate(write):
        try:
            write()
        except Exception as e:  # surface the fused integrity gate
            if "content_sha256 invariant violated" in str(e):
                raise ValueError(
                    f"segment {segment_id}: content_sha256 invariant "
                    f"violated ({e})"
                ) from None
            raise

    staged = None
    staged_path = str(root / ".staged" / f"segment_id={segment_id}")
    if use_staged:
        stage_schema = (
            "shard int, docno bigint, doc_id bigint, pk_hash bigint, dl bigint,"
            " content_sha256 string, content string"
            + "".join(f", {f} string" for f in extra_fields)
        )
        seg_base = (
            gated(base)
            .select(
                "pid", "shard", "doc_id", "pk_hash", "content_sha256",
                "content", *extra_fields,
            )
            .mapInPandas(
                make_stage_stream(cfg, offsets, extra_fields), stage_schema
            )
        )
        surface_gate(
            lambda: (
                seg_base.sortWithinPartitions("shard", "docno")
                .write.mode("overwrite")
                .parquet(staged_path)
            )
        )
        staged = spark.read.parquet(staged_path)
        docmap_src = staged.select(
            "shard", "docno", "doc_id", "pk_hash", "dl", "content_sha256"
        )
    else:
        # checkpoint-free Pass A input: the stage kernel emits doc-level
        # rows only (content crosses INTO the kernel for dl, never out)
        docmap_schema = (
            "shard int, docno bigint, doc_id bigint, pk_hash bigint,"
            " dl bigint, content_sha256 string"
        )
        docmap_src = (
            gated(base)
            .select(
                "pid", "shard", "doc_id", "pk_hash", "content_sha256",
                "content",
            )
            .mapInPandas(
                make_stage_stream(cfg, offsets, [], emit_content=False),
                docmap_schema,
            )
            .sortWithinPartitions("shard", "docno")
        )
    t_stage = time.monotonic()

    # Pass A — docmap: doc-level rows only (dl computed in the stage
    # kernel); the staged branch is a pure content-pruned projection, the
    # checkpoint-free branch runs the kernel here.
    docmap = docmap_src.select(
        F.lit(segment_id).cast("int").alias("segment_id"),
        "shard",
        "docno",
        "doc_id",
        "pk_hash",
        "dl",
        "content_sha256",
    )
    schemas.assert_schema(docmap, schemas.DOCMAP, "docmap")
    # segment_id is carried by the partition directory, not a data column
    # (writing both collides with Spark's partition-column inference).
    # Segment stats ride the SAME job as the write (Observation collects
    # them as the rows stream past) — previously a separate re-scan job,
    # a pure serial-tail cost at every parallelism level.
    from pyspark.sql import Observation

    obs = Observation(f"seg{segment_id}_stats")
    docmap_path = str(root / "docmap" / f"segment_id={segment_id}")
    surface_gate(
        lambda: (
            docmap.drop("segment_id")
            .observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("dl").alias("total_tokens"),
                F.expr(
                    "bit_xor(cast(conv(substr(content_sha256, 1, 15), 16, 10) as bigint))"
                ).alias("sha_xor"),
            )
            .write.mode("overwrite")
            .parquet(docmap_path)
        )
    )
    stats_row = obs.get
    n_docs = stats_row["n_docs"]
    t_docmap = time.monotonic()

    # Pass B — postings: tokenize + occurrence→tf combine in ONE Python
    # kernel (map-side combine), so the pack shuffle carries one compact
    # row per distinct (doc, term) and the JVM never explodes or
    # Arrow-serializes the raw occurrence stream. Checkpoint-free branch:
    # docno assignment is fused into the same kernel (identical arrival
    # order ⇒ identical docnos as Pass A).
    tok_schema = (
        TOKCOMBINE_SCHEMA_POS if cfg.store_positions else TOKCOMBINE_SCHEMA
    )
    pack_schema = PACK_SCHEMA_POS if cfg.store_positions else PACK_SCHEMA
    posting_cols = ["segment_id", "shard", "term", "df", "cf", "postings"] + (
        ["positions"] if cfg.store_positions else []
    )

    def field_rows(field: str | None) -> DataFrame:
        prefix = "" if field is None else f"{field}:"
        if use_staged:
            src = staged.select(
                "shard", "docno",
                (F.col("content") if field is None else F.col(field)).alias(
                    "content"
                ),
            )
            return src.mapInPandas(
                make_tokenize_combine_stream(cfg, term_prefix=prefix),
                tok_schema,
            )
        src = base.select(
            "pid", "shard",
            (F.col("content") if field is None else F.col(field)).alias(
                "content"
            ),
        )
        return src.mapInPandas(
            make_stage_tokenize_stream(cfg, offsets, term_prefix=prefix),
            tok_schema,
        )

    # extra indexed fields (the reference's multiple IndexSettings per
    # collection): one tokenize pass per field over its (tiny) column,
    # terms stored as "field:term", per-field dl embedded per entry →
    # per-field BM25 length norm falls out of the same blob format
    tf_rows = field_rows(None)
    for field in extra_fields:
        tf_rows = tf_rows.unionByName(field_rows(field))

    packed = (
        # partition count = spark.sql.shuffle.partitions (the standard
        # per-task-memory knob, 2×cores in jobs/bench; raised, not
        # num_shards, at 100 TB) — co-locates each (shard, term) wholly
        tf_rows.repartition("shard", "term")
        .mapInPandas(make_pack_stream(cfg.block_size, combine=False), pack_schema)
        .withColumn("segment_id", F.lit(segment_id).cast("int"))
        .select(*posting_cols)
    )
    schemas.assert_schema(
        packed,
        schemas.POSTINGS_POS if cfg.store_positions else schemas.POSTINGS,
        "postings",
    )
    postings_path = str(root / "postings" / f"segment_id={segment_id}")
    (
        packed.drop("segment_id")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#term", "true")
        .parquet(postings_path)
    )

    if use_staged:
        # drop the staged corpus checkpoint (transient; manifest-based
        # resume restarts the whole segment, which is the unit of retry)
        import shutil

        shutil.rmtree(Path(staged_path), ignore_errors=True)

    elapsed = time.monotonic() - t0
    manifest = {
        "segment_id": segment_id,
        "status": "complete",
        "n_docs": int(n_docs),
        "total_tokens": int(stats_row["total_tokens"] or 0),
        "sha_xor15": int(stats_row["sha_xor"] or 0),
        "config": cfg.to_dict(),
        "lineage": lineage or {},
        "metrics": {
            "elapsed_sec": round(elapsed, 3),
            "docs_per_sec": round(n_docs / elapsed, 1) if elapsed > 0 else None,
            # per-phase lineage metrics (north_rule: "per-partition lineage
            # + metrics"): where the wall time of this segment went
            "phases": {
                "stage_sec": round(t_stage - t0, 3),
                "docmap_sec": round(t_docmap - t_stage, 3),
                "postings_sec": round(elapsed - (t_docmap - t0), 3),
            },
            # False = checkpoint-free build (order-stable source; docnos
            # re-derived per pass from pass-0 offsets)
            "staged_checkpoint": use_staged,
        },
    }
    write_manifest(index_root, segment_id, manifest)
    return manifest


# ---------------------------------------------------------------------------
# Driver route: the same kernels in-process, files written with pyarrow
# (small appends and compactions — streaming/incremental.py)
# ---------------------------------------------------------------------------

_ARROW_TYPES = {"int": "int32", "bigint": "int64", "string": "string", "binary": "binary"}


def write_parquet_local(
    pdf: pd.DataFrame, struct, out_dir: Path, partitioned: bool = True
) -> None:
    """Write ``pdf`` as one snappy parquet file in ``out_dir`` with the
    pinned types of ``struct`` (a ``schemas`` StructType). In a
    ``partitioned`` write, ``segment_id`` is carried by the directory
    name, as in Spark's partitioned writes, not by a column. The file is
    written under a hidden name and then renamed, so a reader never sees
    it half-written."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            pa.field(f.name, _ARROW_TYPES[f.dataType.simpleString()])
            for f in struct.fields
            if not (partitioned and f.name == "segment_id")
        ]
    )
    tbl = pa.Table.from_pandas(
        pdf[schema.names], schema=schema, preserve_index=False
    ).replace_schema_metadata(None)
    out_dir.mkdir(parents=True, exist_ok=True)
    name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    tmp = out_dir / f".{name}.tmp"
    pq.write_table(tbl, tmp, compression="snappy")
    tmp.rename(out_dir / name)


def build_segment_local(
    batch: pd.DataFrame,
    index_root: str,
    cfg: EngineConfig,
    segment_id: int,
    lineage: dict | None = None,
) -> dict:
    """``build_segment`` on the driver for a small deduplicated batch
    already collected as pandas (CORPUS columns plus ``shard`` and
    ``pk_hash``): the same content_sha256 gate, stage kernel (dl),
    tokenize kernel per indexed field and pack kernel, run once each.
    Docnos are dense per shard from 0 in doc_id order. Both directories
    are written under a hidden staging directory and renamed into place,
    docmap first, then the manifest is written. Returns the manifest."""
    import hashlib
    import shutil
    from functools import reduce
    from operator import xor

    root = Path(index_root)
    t0 = time.monotonic()
    for doc_id, content, sha in zip(
        batch["doc_id"], batch["content"], batch["content_sha256"]
    ):
        if content is None or hashlib.sha256(content.encode()).hexdigest() != sha:
            raise ValueError(
                f"segment {segment_id}: content_sha256 invariant violated "
                f"(content_sha256 invariant violated for doc_id={doc_id})"
            )
    extra_fields = [f for f in cfg.indexed_fields if f != "content"]
    src = (
        batch.sort_values(["shard", "doc_id"], kind="stable")
        .reset_index(drop=True)
        .assign(pid=0)
    )
    offsets = {(0, int(s)): 0 for s in src["shard"].unique()}
    stage = make_stage_stream(cfg, offsets, extra_fields)
    staged = next(stage(iter([src])))
    t_stage = time.monotonic()

    tmp = root / f".local-segment_id={segment_id}"
    shutil.rmtree(tmp, ignore_errors=True)
    docmap = staged[["shard", "docno", "doc_id", "pk_hash", "dl", "content_sha256"]]
    write_parquet_local(docmap, schemas.DOCMAP, tmp / "docmap")
    t_docmap = time.monotonic()

    tf_rows = [
        rows
        for field in ["content", *extra_fields]
        for rows in make_tokenize_combine_stream(
            cfg, "" if field == "content" else f"{field}:"
        )(iter([staged[["shard", "docno"]].assign(content=staged[field])]))
    ]
    packed = (
        _pack_frame(
            pd.concat(tf_rows, ignore_index=True), cfg.block_size, combine=False
        )
        if tf_rows
        else _PACK_EMPTY
    )
    if cfg.store_positions and "positions" not in packed.columns:
        packed = packed.assign(positions=pd.Series([], dtype=object))
    write_parquet_local(
        packed,
        schemas.POSTINGS_POS if cfg.store_positions else schemas.POSTINGS,
        tmp / "postings",
    )
    for sub in ("docmap", "postings"):
        dest = root / sub / f"segment_id={segment_id}"
        shutil.rmtree(dest, ignore_errors=True)
        dest.parent.mkdir(parents=True, exist_ok=True)
        (tmp / sub).rename(dest)
    shutil.rmtree(tmp, ignore_errors=True)

    n_docs = len(docmap)
    elapsed = time.monotonic() - t0
    manifest = {
        "segment_id": segment_id,
        "status": "complete",
        "n_docs": n_docs,
        "total_tokens": int(docmap["dl"].sum()),
        # build_segment's bit_xor(conv(substr(sha, 1, 15), 16, 10))
        "sha_xor15": reduce(
            xor, (int(h[:15], 16) for h in docmap["content_sha256"]), 0
        ),
        "config": cfg.to_dict(),
        "lineage": lineage or {},
        "metrics": {
            "elapsed_sec": round(elapsed, 3),
            "docs_per_sec": round(n_docs / elapsed, 1) if elapsed > 0 else None,
            "phases": {
                "stage_sec": round(t_stage - t0, 3),
                "docmap_sec": round(t_docmap - t_stage, 3),
                "postings_sec": round(elapsed - (t_docmap - t0), 3),
            },
            "staged_checkpoint": False,
        },
    }
    write_manifest(index_root, segment_id, manifest)
    return manifest


# ---------------------------------------------------------------------------
# Manifest I/O (I-8)
# ---------------------------------------------------------------------------

def manifest_path(index_root: str, segment_id: int) -> Path:
    return Path(index_root) / "manifest" / f"segment-{segment_id}.json"


def write_manifest(index_root: str, segment_id: int, manifest: dict) -> None:
    p = manifest_path(index_root, segment_id)
    p.parent.mkdir(parents=True, exist_ok=True)
    tmp = p.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(manifest, indent=2, sort_keys=True))
    tmp.rename(p)  # atomic publish


def read_manifest(index_root: str, segment_id: int) -> dict | None:
    p = manifest_path(index_root, segment_id)
    if not p.exists():
        return None
    return json.loads(p.read_text())


def segment_complete(index_root: str, segment_id: int, cfg: EngineConfig) -> bool:
    """Resume check: a segment is reusable iff its manifest says complete
    AND was produced under an identical engine config (I-8)."""
    m = read_manifest(index_root, segment_id)
    return bool(m) and m.get("status") == "complete" and m.get("config") == cfg.to_dict()


# ---------------------------------------------------------------------------
# Full build with resume + global lexicon (I-6..I-8)
# ---------------------------------------------------------------------------

def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_root: str,
    cfg: EngineConfig | None = None,
    n_segments: int = 1,
    resume: bool = True,
    verify_integrity: bool = True,
) -> dict:
    """Full index build: split the corpus into ``n_segments`` hash-assigned
    segments, build each as an independent resumable unit (skip segments
    whose manifest is already complete — kill/rerun safe), then publish the
    global lexicon + stats.

    At 100 TB scale ``n_segments`` bounds the blast radius of a failure to
    one segment's worth of work; segments are also the append unit for
    incremental indexing (ST-1).
    """
    cfg = cfg or EngineConfig()
    built, skipped = [], []
    for seg_id in range(n_segments):
        if resume and segment_complete(index_root, seg_id, cfg):
            skipped.append(seg_id)
            continue
        part = (
            corpus
            if n_segments == 1
            else corpus.where(
                F.pmod(F.xxhash64("doc_id"), F.lit(n_segments)).cast("int") == seg_id
            )
        )
        build_segment(
            spark,
            part,
            index_root,
            cfg,
            segment_id=seg_id,
            verify_integrity=verify_integrity,
            lineage={"n_segments": n_segments, "segment_selector": "pmod(xxhash64(doc_id))"},
        )
        built.append(seg_id)
    publish_lexicon(spark, index_root, cfg, n_segments)
    return {"built": built, "skipped": skipped, "n_segments": n_segments}


def _parquet_rows(path: str) -> int | None:
    """Row count from parquet footers, driver-side, no Spark job; None
    when pyarrow can't reach the path (exotic filesystems)."""
    try:
        import pyarrow.dataset as pds

        return int(pds.dataset(path, format="parquet").count_rows())
    except Exception:  # noqa: BLE001 — any reader failure → caller fallback
        return None


def publish_lexicon(
    spark: SparkSession, index_root: str, cfg: EngineConfig, n_segments: int
) -> None:
    """Global lexicon (I-7): term → (df, cf) across all live segments.

    Input rows are per (term, segment, shard) — already partially
    aggregated by the pack stage — so this groupBy moves one small row per
    (term, shard, segment), not posting entries; Spark's partial/final hash
    agg plus AQE handles the Zipfian term skew (each hot term contributes
    at most num_shards × n_segments rows)."""
    root = Path(index_root)
    postings = spark.read.parquet(str(root / "postings"))
    lex = postings.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    schemas.assert_schema(lex, schemas.LEXICON, "lexicon")
    # term-sorted output: parquet min/max statistics then prune cold-term
    # lookups (IndexStore._lexicon_lookup_arrow reads this artifact
    # driver-side with a pushed term filter — file- and row-group-level
    # pruning make that O(query terms), not O(vocab)). Sizing matters:
    # repartitionByRange costs a range-SAMPLING job plus a second shuffle,
    # which is pure scheduling overhead on a small vocab (BUILD_AB_r04
    # measured it as the only real r2→r3 build delta). The input row count
    # (per-(term, shard, segment) rows — an upper bound on vocab) is read
    # driver-side from the parquet footers to pick the shape: small vocab →
    # locally sorted single file (no extra shuffle), huge vocab →
    # range-partitioned ~2M-term files (global sort, pruned probes).
    est = _parquet_rows(str(root / "postings"))
    if est is not None and est <= 2_000_000:
        out = lex.coalesce(1).sortWithinPartitions("term")
    elif est is not None:
        out = lex.repartitionByRange(
            max(2, min(400, est // 2_000_000)), "term"
        ).sortWithinPartitions("term")
    else:  # footer read unavailable (exotic fs) — previous shape
        out = lex.repartitionByRange("term").sortWithinPartitions("term")
    out.write.mode("overwrite").parquet(str(root / "lexicon"))

    # corpus stats: summed from per-segment manifests (already audited at
    # write time via Observation) — no docmap re-scan job; fall back to a
    # docmap scan only if a manifest predates the total_tokens field
    def docmap_totals():
        docmap = spark.read.parquet(str(root / "docmap"))
        r = docmap.agg(
            F.count("*").alias("n_docs"), F.sum("dl").alias("total_tokens")
        ).collect()[0]
        return r["n_docs"], r["total_tokens"]

    # per-field avgdl (multi-index collections): Σcf of a field's terms is
    # exactly that field's total token count — one tiny agg over the
    # already-aggregated lexicon rows, no extra corpus pass
    def field_tokens():
        fld = F.when(
            F.col("term").contains(":"), F.split("term", ":", 2)[0]
        ).otherwise(F.lit("content"))
        return {
            r["field"]: r["toks"]
            for r in postings.groupBy(fld.alias("field"))
            .agg(F.sum("cf").alias("toks"))
            .collect()
        }

    _publish_stats(index_root, cfg, n_segments, docmap_totals, field_tokens)


def _publish_stats(
    index_root: str, cfg: EngineConfig, n_segments: int, docmap_totals,
    field_tokens,
) -> None:
    """Write ``stats.json`` (tmp + rename). n_docs and total_tokens are
    summed from the segment manifests; ``docmap_totals()`` → (n_docs,
    total_tokens) is called only when a manifest predates those fields,
    and ``field_tokens()`` → {field: token count} only for a
    multi-field config."""
    root = Path(index_root)
    seg_ids = sorted(
        int(p.stem.split("-", 1)[1])
        for p in (root / "manifest").glob("segment-*.json")
    ) if (root / "manifest").exists() else []
    manifests = [read_manifest(index_root, s) for s in seg_ids]
    if manifests and all(
        m and "n_docs" in m and "total_tokens" in m for m in manifests
    ):
        n_docs = sum(m["n_docs"] for m in manifests)
        total_tokens = sum(m["total_tokens"] for m in manifests)
    else:
        n_docs, total_tokens = docmap_totals()
    n_docs = int(n_docs or 0)
    total_tokens = int(total_tokens or 0)
    avgdl_by_field = {}
    if n_docs and len(cfg.indexed_fields) > 1:
        avgdl_by_field = {
            f: (toks or 0) / n_docs for f, toks in field_tokens().items()
        }
    stats = {
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": total_tokens / n_docs if n_docs else 0.0,
        "avgdl_by_field": avgdl_by_field,
        "n_segments": n_segments,
        "config": cfg.to_dict(),
    }
    sp = root / "stats.json"
    tmp = sp.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(stats, indent=2, sort_keys=True))
    tmp.rename(sp)


def publish_lexicon_local(
    index_root: str, cfg: EngineConfig, n_segments: int
) -> None:
    """``publish_lexicon`` on the driver for a small index, with no Spark
    job: pyarrow reads every postings row's (term, df, cf), pandas sums
    them per term, and the lexicon is written as ONE term-sorted file in
    a hidden directory that is then swapped in for ``lexicon/``. The
    per-field token counts for ``stats.json`` come from the same
    frame."""
    import shutil
    import uuid

    import pyarrow.dataset as pds

    root = Path(index_root)
    post = (
        pds.dataset(str(root / "postings"), format="parquet", partitioning="hive")
        .to_table(columns=["term", "df", "cf"])
        .to_pandas()
    )
    lex = post.groupby("term", sort=True)[["df", "cf"]].sum().reset_index()
    tag = uuid.uuid4().hex
    tmp, old = root / f".lexicon-{tag}", root / f".lexicon-old-{tag}"
    write_parquet_local(lex, schemas.LEXICON, tmp)
    if (root / "lexicon").exists():
        (root / "lexicon").rename(old)
    tmp.rename(root / "lexicon")
    shutil.rmtree(old, ignore_errors=True)

    def docmap_totals():
        dl = (
            pds.dataset(str(root / "docmap"), format="parquet", partitioning="hive")
            .to_table(columns=["dl"])
            .column("dl")
        )
        return len(dl), int(dl.to_numpy().sum())

    def field_tokens():
        term = post["term"]
        field = term.str.split(":", n=1).str[0].where(
            term.str.contains(":", regex=False), "content"
        )
        return {f: int(t) for f, t in post["cf"].groupby(field).sum().items()}

    _publish_stats(index_root, cfg, n_segments, docmap_totals, field_tokens)


def read_stats(index_root: str) -> dict:
    return json.loads((Path(index_root) / "stats.json").read_text())
