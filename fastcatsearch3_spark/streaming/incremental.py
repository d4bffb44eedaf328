"""Incremental indexing + compaction (SURVEY.md ST-1..ST-4, J-7, P-7).

Reference capability being re-expressed: scheduled/API-pushed batches of
add/update/delete documents become new immutable segments plus a DeleteIdSet
over older segments (server:org.fastcatsearch.job.indexing.
IncrementIndexingJob, core:ir.index.DeleteIdSet [K]); a periodic optimize
job merges segments back into one (ST-4).

Spark design:
  * append_segment — one micro-batch → one new segment. Within-batch upsert
    is a window dedup (W-2: latest commit per pk wins); cross-segment upsert
    is a tombstone row (doc_id, segment_id=N) masking copies in segments <N.
    No index files are rewritten — segments are immutable, exactly the
    reference's model and the only model that scales to 100 TB appends.
  * delete_by_pk — tombstones without new docs (ST-2 delete payload).
  * run_incremental_stream — Structured Streaming over a parquet directory,
    Trigger.AvailableNow, foreachBatch(append_segment): restart-safe via the
    stream checkpoint + the build manifests (I-8).
Stats semantics (documented contract): like Lucene segment readers and the
reference's live-segment search, df/cf/avgdl/n_docs keep counting superseded
and tombstoned docs until ``compact`` runs — masked docs can never be HITS,
but they still weigh on the collection statistics, because their content is
gone and their term contributions cannot be subtracted cheaply at append
time. ``compact`` purges them, restoring exact live-corpus statistics.

  * compact — ST-4: decode all live postings (vectorized VByte), drop
    superseded/tombstoned docs, reassign dense docnos, re-pack into a single
    fresh segment, swap atomically. The decode→shuffle→re-pack is the same
    dataflow as the original build, so its cost scales with live index size,
    not with accumulated garbage.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fastcatsearch3_spark import schemas
from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.functions.vbyte import decode_postings
from fastcatsearch3_spark.index import IndexStore
from fastcatsearch3_spark.operators.build import (
    PACK_SCHEMA,
    build_segment,
    make_pack_stream,
    publish_lexicon,
    write_manifest,
)
from fastcatsearch3_spark.operators.ingest import normalize_corpus


# ---------------------------------------------------------------------------
# W-2: within-batch upsert — latest version per primary key wins
# ---------------------------------------------------------------------------

def dedup_latest(corpus: DataFrame) -> DataFrame:
    """One row per pk (repo, path); ties broken deterministically by commit
    then doc_id (a batch has no arrival order once distributed)."""
    w = Window.partitionBy(F.xxhash64("repo", "path")).orderBy(
        F.desc("commit"), F.desc("doc_id")
    )
    return (
        corpus.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def live_docmap(spark: SparkSession, store: IndexStore) -> DataFrame:
    """Docmap minus superseded/tombstoned rows (P-7 as a join)."""
    dm = store.docmap(spark)
    deletes = store.deletes(spark)
    if deletes is None:
        return dm
    dead = dm.alias("dm").join(
        deletes.alias("dl"),
        (F.col("dm.doc_id") == F.col("dl.doc_id"))
        & (F.col("dm.segment_id") < F.col("dl.segment_id")),
        "left_semi",
    )
    return dm.exceptAll(dead)


def _append_deletes(spark: SparkSession, index_root: str, rows: DataFrame) -> int:
    rows = rows.select(
        F.col("doc_id").cast("long"), F.col("segment_id").cast("int")
    )
    schemas.assert_schema(rows, schemas.DELETES, "deletes")
    n = rows.count()
    if n:
        rows.write.mode("append").parquet(str(Path(index_root) / "deletes"))
    return int(n)


# ---------------------------------------------------------------------------
# ST-1 / ST-2: append one micro-batch as a new segment (+ tombstones)
# ---------------------------------------------------------------------------

def append_segment(
    spark: SparkSession,
    index_root: str,
    new_docs: DataFrame,
    cfg: EngineConfig | None = None,
) -> dict:
    """Index a batch of add/update docs as the next segment; tombstone every
    older copy of the same pk. Returns the new segment's manifest."""
    store = IndexStore(index_root)
    if cfg is None:
        cfg = store.config()
    segs = store.segments()
    next_id = (max(segs) + 1) if segs else 0

    batch = dedup_latest(normalize_corpus(new_docs))

    # Crash-safety ordering (ADVICE r01): the replacement segment is built
    # and its manifest PUBLISHED before any tombstone is written. A crash
    # mid-build therefore leaves the old copies fully live (duplicates on
    # retry are resolved by the tombstones written at the end) — the
    # previous order durably masked the old copies first, so a crash
    # between tombstone-write and segment-publish made those documents
    # invisible with no live replacement.
    manifest = build_segment(
        spark,
        batch,
        index_root,
        cfg,
        segment_id=next_id,
        lineage={"kind": "incremental"},
    )
    if segs:
        pks = batch.select(F.xxhash64("repo", "path").alias("pk_hash")).distinct()
        old = (
            store.docmap(spark)
            # the docmap now includes segment next_id itself — restrict to
            # strictly older segments (the search mask is < anyway; this
            # just avoids writing no-op tombstone rows for the new copies)
            .where(F.col("segment_id") < next_id)
            .join(pks, "pk_hash", "left_semi")
            .select("doc_id", F.lit(next_id).cast("int").alias("segment_id"))
            .distinct()
        )
        n_tombstones = _append_deletes(spark, index_root, old)
        manifest["lineage"]["tombstones"] = n_tombstones
        write_manifest(index_root, next_id, manifest)
    publish_lexicon(spark, index_root, cfg, n_segments=next_id + 1)
    return manifest


def delete_by_pk(
    spark: SparkSession, index_root: str, keys: DataFrame
) -> int:
    """ST-2 delete payload: tombstone every live copy of the given
    (repo, path) keys. Returns the number of tombstoned doc_ids."""
    store = IndexStore(index_root)
    segs = store.segments()
    if not segs:
        return 0
    epoch = max(segs) + 1  # masks every existing segment
    pks = keys.select(F.xxhash64("repo", "path").alias("pk_hash")).distinct()
    old = (
        store.docmap(spark)
        .join(pks, "pk_hash", "left_semi")
        .select("doc_id", F.lit(epoch).cast("int").alias("segment_id"))
        .distinct()
    )
    return _append_deletes(spark, index_root, old)


# ---------------------------------------------------------------------------
# ST-1: Structured Streaming driver
# ---------------------------------------------------------------------------

def run_incremental_stream(
    spark: SparkSession,
    input_dir: str,
    index_root: str,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
) -> None:
    """Drain a parquet directory of rule-shaped rows
    (repo, path, commit, lang, content) into the index, one segment per
    micro-batch, Trigger.AvailableNow (the reference's scheduled
    IncrementIndexingJob [K] as a restartable stream)."""
    from pyspark.sql import types as T

    in_schema = T.StructType(
        [f for f in schemas.CORPUS.fields if f.name not in ("doc_id", "content_sha256")]
    )
    stream = spark.readStream.schema(in_schema).parquet(input_dir)

    def _batch(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        append_segment(spark, index_root, df, cfg)

    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_batch)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# ST-4: compaction — merge all live segments into one, purge tombstones
# ---------------------------------------------------------------------------

_DECODE_SCHEMA = (
    "segment_id int, shard int, term string, docno bigint, tf bigint, dl bigint"
)
_DECODE_SCHEMA_POS = _DECODE_SCHEMA + ", pos binary"


def _decode_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: packed posting rows → exploded posting entries.
    Vectorized VByte decode per blob; Python loops only over terms.

    When the index stores positions, each entry also carries its encoded
    position run (``pos``): within-doc position gaps are docno-independent,
    so compaction re-packs the bytes verbatim — no positions re-encode."""
    from fastcatsearch3_spark.functions.vbyte import split_positions_bytes

    for pdf in batches:
        if len(pdf) == 0:
            continue
        has_pos = "positions" in pdf.columns
        pos_col = pdf["positions"] if has_pos else [None] * len(pdf)
        segs, shards, terms, docnos, tfs, dls, poss = [], [], [], [], [], [], []
        for seg, shard, term, blob, pblob in zip(
            pdf["segment_id"], pdf["shard"], pdf["term"], pdf["postings"],
            pos_col,
        ):
            d, t, l = decode_postings(bytes(blob))
            n = d.size
            segs.append(np.full(n, seg, dtype=np.int32))
            shards.append(np.full(n, shard, dtype=np.int32))
            terms.extend([term] * n)
            docnos.append(d.astype(np.int64))
            tfs.append(t.astype(np.int64))
            dls.append(l.astype(np.int64))
            if has_pos:
                poss.extend(split_positions_bytes(bytes(pblob), t))
        cols = {
            "segment_id": np.concatenate(segs),
            "shard": np.concatenate(shards),
            "term": terms,
            "docno": np.concatenate(docnos),
            "tf": np.concatenate(tfs),
            "dl": np.concatenate(dls),
        }
        if has_pos:
            cols["pos"] = poss
        yield pd.DataFrame(cols)


def compact(
    spark: SparkSession, index_root: str, cfg: EngineConfig | None = None
) -> dict:
    """Rewrite all live segments as a single fresh segment 0.

    Dataflow: live docmap → new dense (shard, docno) assignment; packed
    postings → mapInPandas VByte decode → inner join with the remap (the
    join IS the tombstone purge — dead docnos have no remap row) →
    groupBy(shard, bucket) re-pack. Then swap directories + manifests."""
    store = IndexStore(index_root)
    cfg = cfg or store.config()
    root = Path(index_root)
    t0 = time.monotonic()
    old_segments = store.segments()

    dm_live = live_docmap(spark, store)
    new_assign = dm_live.withColumn(
        "nshard", F.pmod(F.xxhash64("doc_id"), F.lit(cfg.num_shards)).cast("int")
    ).withColumn(
        "ndocno",
        (F.row_number().over(Window.partitionBy("nshard").orderBy("doc_id")) - 1).cast(
            "long"
        ),
    )
    remap = new_assign.select("segment_id", "shard", "docno", "nshard", "ndocno")

    postings_df = store.postings(spark)
    with_pos = "positions" in postings_df.columns
    exploded = postings_df.mapInPandas(
        _decode_iter, _DECODE_SCHEMA_POS if with_pos else _DECODE_SCHEMA
    )
    tf_rows = exploded.join(remap, ["segment_id", "shard", "docno"]).select(
        F.col("nshard").alias("shard"),
        F.col("ndocno").alias("docno"),
        "dl",
        "term",
        "tf",
        *(["pos"] if with_pos else []),
    )
    npart = 2 * max(spark.sparkContext.defaultParallelism, cfg.num_shards)
    from fastcatsearch3_spark.operators.build import PACK_SCHEMA_POS

    packed = tf_rows.repartition(npart, "shard", "term").mapInPandas(
        make_pack_stream(cfg.block_size, combine=False),
        PACK_SCHEMA_POS if with_pos else PACK_SCHEMA,
    )

    tmp = root / ".compact"
    shutil.rmtree(tmp, ignore_errors=True)
    # adaptive: size each file's term bloom filter to its distinct terms;
    # unsized, parquet-mr writes its 1 MB maximum into every file, ~10x a
    # small compacted index (which then misses the driver read route)
    (
        packed.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#term", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true")
        .parquet(str(tmp / "postings" / "segment_id=0"))
    )

    new_docmap = new_assign.select(
        F.col("nshard").alias("shard"),
        F.col("ndocno").alias("docno"),
        "doc_id",
        "pk_hash",
        "dl",
        "content_sha256",
    )
    (
        new_docmap.repartition(cfg.num_shards, "shard")
        .sortWithinPartitions("shard", "docno")
        .write.mode("overwrite")
        .parquet(str(tmp / "docmap" / "segment_id=0"))
    )
    stats_row = (
        spark.read.parquet(str(tmp / "docmap" / "segment_id=0"))
        .agg(F.count("*").alias("n"), F.sum("dl").alias("toks"))
        .collect()[0]
    )
    n_docs = stats_row["n"]

    # Crash-safe swap (ADVICE r01): the live directories are renamed ASIDE
    # (.old suffix) first, the new ones renamed in, and only then are the
    # .old copies deleted. A crash anywhere in the window leaves either
    # the old index intact or both copies on disk — never an index with no
    # postings/docmap. recover_interrupted_compact() (called by IndexStore)
    # rolls an interrupted swap back to the .old copies on next open.
    swap_subs = ("postings", "docmap", "deletes", "manifest")
    for sub in swap_subs:
        if (root / sub).exists():
            shutil.rmtree(root / f"{sub}.old", ignore_errors=True)
            (root / sub).rename(root / f"{sub}.old")
    (tmp / "postings").rename(root / "postings")
    (tmp / "docmap").rename(root / "docmap")
    for sub in swap_subs:
        shutil.rmtree(root / f"{sub}.old", ignore_errors=True)
    shutil.rmtree(root / ".denied", ignore_errors=True)  # epoch masks are stale
    shutil.rmtree(tmp, ignore_errors=True)

    elapsed = time.monotonic() - t0
    manifest = {
        "segment_id": 0,
        "status": "complete",
        "n_docs": int(n_docs),
        "total_tokens": int(stats_row["toks"] or 0),
        "config": cfg.to_dict(),
        "lineage": {"kind": "compaction", "compacted_from": old_segments},
        "metrics": {"elapsed_sec": round(elapsed, 3)},
    }
    write_manifest(index_root, 0, manifest)
    publish_lexicon(spark, index_root, cfg, n_segments=1)
    return manifest
