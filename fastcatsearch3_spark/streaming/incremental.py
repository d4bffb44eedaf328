"""Incremental indexing + compaction (SURVEY.md ST-1..ST-4, J-7, P-7).

Reference capability being re-expressed: scheduled/API-pushed batches of
add/update/delete documents become new immutable segments plus a DeleteIdSet
over older segments (server:org.fastcatsearch.job.indexing.
IncrementIndexingJob, core:ir.index.DeleteIdSet [K]); a periodic optimize
job merges segments back into one (ST-4).

Operations:
  * append_segment — one micro-batch → one new segment. Within-batch upsert
    is a dedup (W-2: latest commit per pk wins); cross-segment upsert is a
    tombstone row (doc_id, segment_id=N) masking copies in segments <N.
    No index files are rewritten — segments are immutable, exactly the
    reference's model and the only model that scales to 100 TB appends.
  * delete_by_pk — tombstones without new docs (ST-2 delete payload).
  * run_incremental_stream — Structured Streaming over a parquet directory,
    Trigger.AvailableNow, foreachBatch(append_segment): restart-safe via the
    stream checkpoint + the build manifests (I-8).
  * compact — ST-4: decode all live postings, drop superseded/tombstoned
    docs, reassign dense docnos (rank by doc_id within the shard),
    re-pack into a single fresh segment, swap atomically. Its cost
    scales with live index size, not with accumulated garbage. Decode
    (``_decode_iter``) and re-pack (``_pack_frame``) use the batched
    posting codec (``functions/vbyte.py``): one numpy pass per input
    frame, not one per posting list. The compaction manifest records
    where the time went (``metrics.phases``: read_s, decode_s, pack_s,
    write_s) and the posting entries written (``metrics.entries``).

Routing: each write picks one of two executors by a fixed rule (the caps
are constants in ``index``; there is no option). Both run the same
kernels and write the same file format, so they leave identical answers,
lexicon and stats (tests/test_write_route.py).
  * Driver route — an append or delete whose index holds fewer than
    ``index.LOCAL_MAX_BYTES`` of postings plus docmap, and whose batch
    holds at most ``index.LOCAL_MAX_ROWS`` rows. ONE bounded Spark job
    collects the batch (the normalized corpus plus its shard and pk_hash
    projections, or the keys' pk_hash) as Arrow; a larger batch is
    dropped and the Spark plan runs. On the driver an append then runs
    a pandas dedup with dedup_latest's order, the content_sha256 gate,
    the stage kernel (``make_stage_stream``: dl, dense per-shard docnos
    from 0 in doc_id order), the tokenize kernel once per indexed field
    (``make_tokenize_combine_stream``) and the pack kernel
    (``_pack_frame``); tombstones are the older segments' pyarrow docmap
    rows with the batch's pk_hash; the lexicon and stats.json come from
    ``publish_lexicon_local``. A compaction of an index under
    ``index.LOCAL_MAX_BYTES`` runs on the driver with no Spark job: live
    docmap = pyarrow docmap minus ``_denied_local``'s denied set, then
    per shard one batched ``_decode_iter``, the remap merge and one
    ``_pack_frame``. No thread or process pool is started.
  * Spark route — every other write: the distributed plans (window
    dedup, ``build_segment``, mapInPandas decode + shuffle re-pack,
    ``publish_lexicon``).

Publication protocol (both routes): a new segment's docmap and postings
are published before its manifest, and the manifest before any
tombstone, so a crash mid-append leaves the old copies live (a retry's
tombstones resolve the duplicates). On the driver route every file is
written under a hidden name (or inside a hidden directory) and renamed
into place; a segment directory is renamed in whole, and the lexicon is
written to a hidden directory that is swapped in for ``lexicon/``.
Compaction writes under ``.compact/`` and swaps it in crash-safely
(``_swap_compacted``; ``index.recover_interrupted_compact`` rolls an
interrupted swap back), then drops the stale per-epoch ``.denied``
masks.

Stats semantics (documented contract): like Lucene segment readers and the
reference's live-segment search, df/cf/avgdl/n_docs keep counting superseded
and tombstoned docs until ``compact`` runs — masked docs can never be HITS,
but they still weigh on the collection statistics, because their content is
gone and their term contributions cannot be subtracted cheaply at append
time. ``compact`` purges them, restoring exact live-corpus statistics.
"""

from __future__ import annotations

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
from fastcatsearch3_spark.functions.vbyte import (
    decode_postings_many,
    split_positions_many,
)
from fastcatsearch3_spark.index import IndexStore
from fastcatsearch3_spark.operators.build import (
    PACK_SCHEMA,
    PACK_SCHEMA_POS,
    _PACK_EMPTY,
    _pack_frame,
    build_segment,
    build_segment_local,
    make_pack_stream,
    publish_lexicon,
    publish_lexicon_local,
    read_manifest,
    write_manifest,
    write_parquet_local,
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


def _dedup_latest_local(batch: pd.DataFrame) -> pd.DataFrame:
    """``dedup_latest`` in pandas, same survivor: one row per pk_hash,
    commit descending with nulls last, then doc_id descending."""
    return batch.sort_values(
        ["pk_hash", "commit", "doc_id"],
        ascending=[True, False, False],
        na_position="last",
        kind="stable",
    ).drop_duplicates("pk_hash", keep="first")


def _with_keys(corpus: DataFrame, num_shards: int) -> DataFrame:
    """Normalized corpus plus the narrow ``shard`` and ``pk_hash``
    projections build_segment derives (no shuffle)."""
    return corpus.select(
        "*",
        F.pmod(F.xxhash64("doc_id"), F.lit(num_shards)).cast("int").alias("shard"),
        F.xxhash64("repo", "path").alias("pk_hash"),
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


def _append_deletes_local(index_root: str, rows: pd.DataFrame) -> int:
    """``_append_deletes`` on the driver: one new part file in
    ``deletes/`` (hidden name, then renamed), none when ``rows`` is
    empty."""
    if len(rows):
        write_parquet_local(
            rows, schemas.DELETES, Path(index_root) / "deletes", partitioned=False
        )
    return len(rows)


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

    corpus = normalize_corpus(new_docs)
    small = store.local_batch(_with_keys(corpus, cfg.num_shards))
    if small is not None:
        return _append_local(store, small, cfg, next_id)
    batch = dedup_latest(corpus)

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


def _append_local(
    store: IndexStore, batch: pd.DataFrame, cfg: EngineConfig, next_id: int
) -> dict:
    """append_segment's driver route, in the same publication order:
    the segment and its manifest first, then the tombstones, then the
    lexicon and stats."""
    batch = _dedup_latest_local(batch)
    manifest = build_segment_local(
        batch, store.root, cfg, segment_id=next_id,
        lineage={"kind": "incremental"},
    )
    if next_id:  # older segments exist
        dm = store.local_table("docmap", ["segment_id", "doc_id", "pk_hash"])
        old = dm.loc[
            (dm["segment_id"] < next_id) & dm["pk_hash"].isin(batch["pk_hash"]),
            ["doc_id"],
        ].drop_duplicates().assign(segment_id=next_id)
        manifest["lineage"]["tombstones"] = _append_deletes_local(store.root, old)
        write_manifest(store.root, next_id, manifest)
    publish_lexicon_local(store.root, cfg, n_segments=next_id + 1)
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
    small = store.local_batch(
        keys.select(F.xxhash64("repo", "path").alias("pk_hash"))
    )
    if small is not None:
        dm = store.local_table("docmap", ["doc_id", "pk_hash"])
        old = dm.loc[dm["pk_hash"].isin(small["pk_hash"]), ["doc_id"]]
        return _append_deletes_local(
            index_root, old.drop_duplicates().assign(segment_id=epoch)
        )
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
    """mapInPandas kernel: packed posting rows → exploded posting entries,
    one batched VByte decode per input frame (``decode_postings_many``).

    When the index stores positions, each entry also carries its encoded
    position run (``pos``): within-doc position gaps are docno-independent,
    so compaction re-packs the bytes verbatim — no positions re-encode."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        row, d, t, l = decode_postings_many(pdf["postings"].tolist())
        cols = {
            "segment_id": pdf["segment_id"].to_numpy(np.int32)[row],
            "shard": pdf["shard"].to_numpy(np.int32)[row],
            "term": pdf["term"].to_numpy(object)[row],
            "docno": d.astype(np.int64),
            "tf": t.astype(np.int64),
            "dl": l.astype(np.int64),
        }
        if "positions" in pdf.columns:
            buf, starts, lens = split_positions_many(
                pdf["positions"].tolist(), t, np.bincount(row, minlength=len(pdf))
            )
            raw = buf.tobytes()
            cols["pos"] = [
                raw[s : s + n] for s, n in zip(starts.tolist(), lens.tolist())
            ]
        yield pd.DataFrame(cols)


def compact(
    spark: SparkSession, index_root: str, cfg: EngineConfig | None = None
) -> dict:
    """Rewrite all live segments as a single fresh segment 0.

    Dataflow: live docmap → new dense (shard, docno) assignment; packed
    postings → VByte decode → inner join with the remap (the join IS the
    tombstone purge — dead docnos have no remap row) → re-pack per
    (shard, term), written under ``.compact/``. Then swap directories +
    manifests. Small indexes run it on the driver (``_compact_local``),
    others as Spark jobs (``_compact_spark``)."""
    store = IndexStore(index_root)
    cfg = cfg or store.config()
    root = Path(index_root)
    t0 = time.monotonic()
    old_segments = store.segments()

    totals = _compact_local(store, cfg) if store.compacts_local() else None
    local = totals is not None
    if not local:
        totals = _compact_spark(spark, store, cfg)
    n_docs, total_tokens, metrics = totals
    t_swap = time.monotonic()
    _swap_compacted(root)
    metrics["phases"]["write_s"] += time.monotonic() - t_swap

    elapsed = time.monotonic() - t0
    manifest = {
        "segment_id": 0,
        "status": "complete",
        "n_docs": int(n_docs),
        "total_tokens": int(total_tokens or 0),
        "config": cfg.to_dict(),
        "lineage": {"kind": "compaction", "compacted_from": old_segments},
        "metrics": {
            "elapsed_sec": round(elapsed, 3),
            # where the time went; on the Spark route decode and pack run
            # inside the postings write job, so they are null there
            "phases": {
                k: None if v is None else round(v, 3)
                for k, v in metrics["phases"].items()
            },
            "entries": int(metrics["entries"] or 0),
        },
    }
    write_manifest(index_root, 0, manifest)
    if local:
        publish_lexicon_local(index_root, cfg, n_segments=1)
    else:
        publish_lexicon(spark, index_root, cfg, n_segments=1)
    return manifest


def _compact_spark(
    spark: SparkSession, store: IndexStore, cfg: EngineConfig
) -> tuple[int, int, dict]:
    """Compaction's Spark plan: writes the new segment under
    ``.compact/``; returns (n_docs, total_tokens, metrics)."""
    from pyspark.sql import Observation

    t0 = time.monotonic()
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

    packed = tf_rows.repartition(npart, "shard", "term").mapInPandas(
        make_pack_stream(cfg.block_size, combine=False),
        PACK_SCHEMA_POS if with_pos else PACK_SCHEMA,
    )

    tmp = Path(store.root) / ".compact"
    shutil.rmtree(tmp, ignore_errors=True)
    # adaptive: size each file's term bloom filter to its distinct terms;
    # unsized, parquet-mr writes its 1 MB maximum into every file, ~10x a
    # small compacted index (which then misses the driver read route)
    obs = Observation("compact_postings")
    (
        packed.observe(obs, F.sum("df").alias("entries"))
        .write.mode("overwrite")
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
    phases = {
        "read_s": None, "decode_s": None, "pack_s": None,
        "write_s": time.monotonic() - t0,
    }
    return stats_row["n"], stats_row["toks"], {
        "phases": phases, "entries": obs.get["entries"]
    }


def _compact_local(
    store: IndexStore, cfg: EngineConfig
) -> tuple[int, int, dict] | None:
    """Compaction on the driver, with no Spark job: the live docmap is the
    pyarrow docmap minus ``_denied_local``'s denied set; ``ndocno`` is the
    rank by doc_id within the shard; then per shard one batched
    ``_decode_iter``, the remap join and one ``_pack_frame``, written
    under ``.compact/``. Returns (n_docs, total_tokens, metrics), or
    None — the caller then runs the Spark plan — unless every segment
    was built with ``cfg.num_shards``: only then is the new shard,
    pmod(xxhash64(doc_id), num_shards), the old one."""
    manifests = [read_manifest(store.root, s) for s in store.segments()]
    if not all(m and m["config"]["num_shards"] == cfg.num_shards for m in manifests):
        return None
    t0 = time.monotonic()
    dm = store.local_table("docmap")
    dead = store._denied_local(dm).assign(_dead=True)
    live = dm.merge(dead, on=["segment_id", "shard", "docno"], how="left")
    live = live[live["_dead"].isna()].sort_values(["shard", "doc_id"], kind="stable")
    live["ndocno"] = live.groupby("shard").cumcount().astype(np.int64)
    remap = live[["segment_id", "shard", "docno", "ndocno"]]

    post = store.local_table("postings")
    with_pos = "positions" in post.columns
    packs = [_PACK_EMPTY.assign(positions=None) if with_pos else _PACK_EMPTY]
    phases = {"read_s": time.monotonic() - t0, "decode_s": 0.0, "pack_s": 0.0}
    for _, group in post.groupby("shard", sort=True):
        t = time.monotonic()
        (entries,) = _decode_iter(iter([group]))
        rows = entries.merge(remap, on=["segment_id", "shard", "docno"])
        rows["docno"] = rows["ndocno"]
        t_pack = time.monotonic()
        packs.append(_pack_frame(rows, cfg.block_size, combine=False))
        phases["decode_s"] += t_pack - t
        phases["pack_s"] += time.monotonic() - t_pack

    t = time.monotonic()
    packed = pd.concat(packs, ignore_index=True)
    tmp = Path(store.root) / ".compact"
    shutil.rmtree(tmp, ignore_errors=True)
    write_parquet_local(
        packed,
        schemas.POSTINGS_POS if with_pos else schemas.POSTINGS,
        tmp / "postings" / "segment_id=0",
    )
    write_parquet_local(
        live.assign(docno=live["ndocno"]),
        schemas.DOCMAP,
        tmp / "docmap" / "segment_id=0",
    )
    phases["write_s"] = time.monotonic() - t
    return len(live), int(live["dl"].sum()), {
        "phases": phases, "entries": int(packed["df"].sum())
    }


def _swap_compacted(root: Path) -> None:
    """Swap ``.compact/``'s postings and docmap in for the live ones.

    Crash-safe swap (ADVICE r01): the live directories are renamed ASIDE
    (.old suffix) first, the new ones renamed in, and only then are the
    .old copies deleted. A crash anywhere in the window leaves either
    the old index intact or both copies on disk — never an index with no
    postings/docmap. recover_interrupted_compact() (called by IndexStore)
    rolls an interrupted swap back to the .old copies on next open."""
    tmp = root / ".compact"
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
